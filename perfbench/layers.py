"""Layer table: where each workload's measured wall goes.

    python3 perfbench/layers.py --seed 1 --seconds 5 > perfbench/LAYERS.md

For every workload this runs the benchmark twice with the same seed,
untraced and traced, and splits the traced run's measured rounds (first +
warm) into layers from its spans: Catalyst planning, wall with no task
running (driver and scheduler time), task compute, shuffle, GC, codegen
and the shared cache. It reports tracing overhead per end-to-end metric and
the share of round wall that op spans cover.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(os.path.dirname(HERE), ".bench_build")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} trace={trace} failed:\n{p.stdout}")
    return json.loads(lines[-1])


def load_spans(workload):
    with open(os.path.join(BUILD, f"spans-{workload}.jsonl")) as f:
        spans = [json.loads(x) for x in f if x.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return spans, kids


def subtree(s, kids):
    out = [s]
    for k in kids.get(s["id"], []):
        out += subtree(k, kids)
    return out


def split(spans, kids):
    """Layer totals over a set of top spans (seconds)."""
    wall = sum(s["seconds"] for s in spans)
    inner = [x for s in spans for x in subtree(s, kids)]
    t = lambda k: sum(x[k] for x in inner)  # noqa: E731
    return {
        "wall_s": wall,
        "planning_s": t("planning_ms") / 1000,
        "no_task_s": sum(s["no_task_ms"] for s in spans) / 1000,
        "task_run_s": t("task_run_ms") / 1000,
        "gc_s": t("gc_ms") / 1000,
        "shuffle_mb": t("shuffle_write_bytes") / 2**20,
        "codegen_s": sum(s["codegen_s"] for s in spans),
        "cache_build_s": sum(x["self_seconds"] for x in inner
                             if x["name"] == "shared_cache.build"),
        "cache_hit_s": sum(x["seconds"] for x in inner
                           if x["name"] == "shared_cache.hit"),
        "jobs": t("jobs"), "tasks": t("tasks"),
    }


def fmt(v):
    return f"{v:.3f}" if isinstance(v, float) else str(v)


def table(rows, cols):
    out = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    out += ["| " + " | ".join(fmt(r.get(c, "")) for c in cols) + " |" for r in rows]
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = os.cpu_count()
    print(f"# Layer table (seed {a.seed}, {a.seconds:g} s runs, {cores} cores)\n")
    print("Generated by `python3 perfbench/layers.py`: one untraced and one "
          "traced run per workload; layers from the traced run's spans over "
          "its measured rounds (first + warm). `no_task_s` is wall during "
          "which no Spark task ran (driver, planning and scheduling); "
          "`task_run_s / (wall_s x cores)` is parallel efficiency.\n")
    for w in [x["name"] for x in spec["workloads"]]:
        plain = run(w, a.seed, a.seconds, 0)
        traced = run(w, a.seed, a.seconds, 1)
        spans, kids = load_spans(w)
        rounds = [s for s in spans if s["name"].startswith("round.")]
        ops = [k for r in rounds for k in kids.get(r["id"], [])]
        cover = sum(o["seconds"] for o in ops) / max(1e-9, sum(r["seconds"] for r in rounds))
        print(f"## {w}\n")
        rows = []
        for label, sel in (("first", lambda r: r["round"] == "first"),
                           ("warm (all)", lambda r: r["round"] != "first")):
            row = split([r for r in rounds if sel(r)], kids)
            row["rounds"] = label
            row["efficiency"] = row["task_run_s"] / max(1e-9, row["wall_s"] * cores)
            rows.append(row)
        print(table(rows, ["rounds", "wall_s", "planning_s", "no_task_s",
                           "task_run_s", "efficiency", "gc_s", "shuffle_mb",
                           "codegen_s", "cache_build_s", "cache_hit_s",
                           "jobs", "tasks"]))
        # per op kind, warm rounds only
        groups = {}
        for o in ops:
            if o["round"] != "first":
                groups.setdefault(o["name"], []).append(o)
        per = []
        for name, os_ in groups.items():
            r = split(os_, kids)
            n = len(os_)
            per.append({"op": name, "n": n, "mean_s": r["wall_s"] / n,
                        "planning_s": r["planning_s"] / n,
                        "no_task_s": r["no_task_s"] / n,
                        "task_run_s": r["task_run_s"] / n,
                        "efficiency": r["task_run_s"] / max(1e-9, r["wall_s"] * cores),
                        "shuffle_mb": r["shuffle_mb"] / n})
        per.sort(key=lambda r: -r["mean_s"])
        print("\nWarm ops (mean per call):\n")
        print(table(per, ["op", "n", "mean_s", "planning_s", "no_task_s",
                          "task_run_s", "efficiency", "shuffle_mb"]))
        if w == "operator_mix":
            fast = [r for r in per if r["mean_s"] < 0.5]
            tot = {k: sum(r[k] * r["n"] for r in fast)
                   for k in ("mean_s", "planning_s", "no_task_s", "task_run_s")}
            print(f"\nSub-0.5 s queries ({len(fast)} of {len(per)}): warm wall "
                  f"{tot['mean_s']:.2f} s, of which planning {tot['planning_s']:.2f} s, "
                  f"no task running {tot['no_task_s']:.2f} s, task run "
                  f"{tot['task_run_s']:.2f} s (summed over the cores). The floor "
                  f"is {'no-task time' if tot['no_task_s'] > tot['planning_s'] else 'planning'}: "
                  f"Catalyst planning is {tot['planning_s'] / max(1e-9, tot['no_task_s']):.0%} "
                  f"of the wall with no task running; the rest is job and stage "
                  f"scheduling, adaptive re-planning and other driver work.")
        if w == "pipeline":
            low = min(per, key=lambda r: r["efficiency"])
            print(f"\nLowest parallel efficiency: {low['op']} "
                  f"({low['efficiency']:.3f}).")
        print(f"\nOp spans cover {cover:.1%} of round wall.\n")
        over = []
        for m in spec["end_to_end"]:
            k = m["name"]
            t = traced["metrics"].get(f"traced.{k}", {}).get("value")
            p = plain["metrics"][k]["value"]
            if t is not None and p:
                over.append({"metric": k, "untraced": p, "traced": t,
                             "overhead": t / p - 1})
        print("Tracing overhead (one run each way, so a difference inside "
              "the run-to-run spread is noise):\n")
        print(table(over, ["metric", "untraced", "traced", "overhead"]))
        print()


if __name__ == "__main__":
    main()
