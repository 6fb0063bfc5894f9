"""Builds the benchmark: the program's main sources plus the benchmark's own
Scala sources, compiled together into one class directory.

The compiler is the Scala 2.13 compiler that ships in the Spark
distribution's `jars/` directory (the program is built against those same
jars), so the build needs no dependency resolution and writes only under
`<repo>/.bench_build/`. A stamp of every source file's content skips the
build when nothing changed.

Usage: python3 build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars() -> str:
    """The Spark distribution's jar directory (SPARK_HOME, else pyspark's)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark  # the pip distribution carries the same jars
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources() -> list:
    found = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for ext in ("scala", "java"):
            found += glob.glob(os.path.join(base, "**", f"*.{ext}"),
                               recursive=True)
    if not any(p.startswith(os.path.join(ROOT, "src", "main")) for p in found):
        raise SystemExit(f"no program sources under {ROOT}/src/main")
    return sorted(found)


def stamp(files: list, jars: str) -> str:
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build() -> str:
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    # scalac reads the Java sources for their signatures; javac then
    # compiles them against the Scala classes
    subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                    "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                    "-classpath", cp, "@" + argfile], check=True,
                   stdout=sys.stderr)
    java = [p for p in files if p.endswith(".java")]
    if java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding",
                        "UTF-8", "-d", tmp,
                        "-cp", tmp + os.pathsep + cp] + java, check=True,
                       stdout=sys.stderr)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except subprocess.CalledProcessError as e:
        sys.exit(f"build failed: {e}")
