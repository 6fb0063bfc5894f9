"""OJO benchmark: one run of one workload.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Builds the program (build.py), generates the seeded inputs (gen.py), runs
the workload in one JVM on local[nproc] with one closed-loop client,
checks the outputs against DuckDB (check.py), and prints as its last line
one JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. Every file a run writes goes under
`<repo>/.bench_build/` and the run's own work directory is removed at the
end. Exits nonzero if any operation or output check failed.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

#: input scale factor per workload (gen.py sizes; 0.01 = 15,000 ads)
SCALE = {"pipeline": 0.003, "operator_mix": 0.01}
#: the whole run must end within this many seconds
DEADLINE_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def mix_sample(seed: int) -> list:
    """(family, name) pairs: one query drawn from each cell of
    mix_candidates.txt, in cell order. A pure function of the seed and the
    candidate list."""
    cells = {}
    with open(os.path.join(HERE, "mix_candidates.txt")) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if line:
                cell, fam, name = line.split()
                cells.setdefault(cell, []).append((fam, name))
    rng = random.Random(seed)
    return [rng.choice(cells[c]) for c in sorted(cells)]


def run_jvm(classes, work, args, timeout):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "ojobench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory")
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")

    classes = build.build()
    work = os.path.join(build.OUT, "work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        sizes = gen.write(data, a.seed, SCALE[a.workload])
        print(f"inputs (seed {a.seed}, sf {SCALE[a.workload]}): {sizes}")
        args = ["--workload", a.workload, "--data", data, "--work", work,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", f"{work}/result.json"]
        if a.workload == "operator_mix":
            sample = mix_sample(a.seed)
            print("mix sample: " + " ".join(n for _, n in sample))
            with open(f"{work}/sample.txt", "w") as f:
                f.write("".join(f"{fam} {n}\n" for fam, n in sample))
            args += ["--sample", f"{work}/sample.txt"]
        t_jvm = time.time()
        remaining = DEADLINE_S - (t_jvm - t_start) - 15
        code = run_jvm(classes, work, args, timeout=max(10, remaining))
        if code != 0:
            raise SystemExit(f"benchmark JVM exited with {code}")
        with open(f"{work}/result.json") as f:
            res = json.load(f)
        for e in res["errors"]:
            print(f"FAILED {e}")
        t_check = time.time()
        problems, n_checks = check.run(a.workload, res, data)
        for p in problems:
            print(f"CHECK FAILED {p}")
        print(f"{n_checks - len(problems)}/{n_checks} output checks passed; "
              f"rounds: {json.dumps(res['rounds'])}; wall: inputs "
              f"{t_jvm - t_start:.1f} s, jvm {t_check - t_jvm:.1f} s, checks "
              f"{time.time() - t_check:.1f} s")
        if a.trace:
            shutil.copy(f"{work}/result.json.spans.jsonl",
                        os.path.join(build.OUT, f"spans-{a.workload}.jsonl"))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = res["layers"]
        unknown = set(values) - {n for n, _ in names}
        if unknown:
            raise SystemExit(f"layers missing from BENCHMARK.json: {sorted(unknown)}")
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res["e2e"]
    failed = res["failed"] + len(problems)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"] + n_checks,
        "failed": failed,
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u}
                    for n, u in names}}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
