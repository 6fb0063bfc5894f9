"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload briefly (`--seconds 1`), untraced and traced, and
asserts that the last output line holds every metric of BENCHMARK.json
with its unit and that the run passed its own output checks. Then it
corrupts one published artifact of a kept pipeline run and asserts that
the output check rejects it. Exits nonzero on the first failed assertion.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402

SEED = 7


def run(workload: str, trace: int, keep: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd + (["--keep"] if keep else []),
                       stdout=subprocess.PIPE, text=True, cwd=ROOT)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w, trace, keep=(w == "pipeline" and trace == 0))
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = out["metrics"]
            assert set(got) == set(want), set(got) ^ set(want)
            for name, m in got.items():
                assert m["unit"] == want[name], (name, m)
                assert isinstance(m["value"], (int, float)), (name, m)
                if key == "end_to_end":
                    assert m["value"] > 0, (name, m)
            print(f"ok: {w} trace={trace} prints {len(got)} metrics with units")

    work = glob.glob(os.path.join(build.OUT, "work", f"pipeline-s{SEED}-t0-*"))[0]
    try:
        with open(f"{work}/result.json") as f:
            res = json.load(f)
        problems, _ = check.run("pipeline", res, f"{work}/data")
        assert not problems, problems
        part = glob.glob(f"{res['pipeline']['run_dir']}/out/publish/latest/"
                         "weekly_stock.json/part-*")[0]
        with open(part) as f:
            lines = f.read().splitlines()
        row = json.loads(lines[0])
        row["volume_idx"] = row["volume_idx"] + 1.0
        lines[0] = json.dumps(row)
        with open(part, "w") as f:
            f.write("\n".join(lines) + "\n")
        problems, _ = check.run("pipeline", res, f"{work}/data")
        assert any("publish.latest.weekly_stock" in p for p in problems), problems
        print("ok: the pipeline check rejects a corrupted published artifact")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
