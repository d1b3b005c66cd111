#!/usr/bin/env python3
"""Steadiness of the benchmark: runs each workload in two sets of repeats,
each run with its own seed, and reports every end-to-end metric's median,
quartiles and spread (interquartile range ÷ median) per set, the drift of
the second set's median from the first, the share of failed operations,
and one traced run per workload with its tracing overhead.

    python3 perfbench/steady.py --runs 10
    python3 perfbench/steady.py --workloads exact_parity --runs 5

Set one uses seeds 1..runs, set two seeds 101..100+runs. The report goes
to standard output as Markdown and to ``.perfbench/steady.json``; its
spreads and drifts are what the bounds in BENCHMARK.json are set from. The
``ops`` and ``phases`` lines of every run (per-operation times, CPU steal
during the timed loop) are echoed to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict[str, float], float]:
    """One benchmark invocation: (result line, every ``metric`` line, wall seconds)."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited with {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    named = {}
    for line in lines:
        parts = line.split()
        if parts and parts[0] == "metric":
            named[parts[2]] = float(parts[3])
        elif parts and parts[0] in ("ops", "phases"):
            print(f"  {line}", file=sys.stderr)
    return json.loads(lines[-1]), named, wall


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    gated = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="+", default=gated)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"seconds": args.seconds, "workloads": {}}
    for w in args.workloads:
        report["workloads"][w] = {"sets": []}
    for s in range(2):
        seeds = [100 * s + k + 1 for k in range(args.runs)]
        per = {w: {"results": [], "named": [], "wall": []} for w in args.workloads}
        for seed in seeds:  # interleave workloads so slow drift hits both alike
            for w in args.workloads:
                res, named, wall = run_once(w, seed, args.seconds, 0)
                per[w]["results"].append(res)
                per[w]["named"].append(named)
                per[w]["wall"].append(wall)
                print(f"set {s + 1} {w} seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']}", file=sys.stderr, flush=True)
        for w in args.workloads:
            res = per[w]["results"]
            metrics = {
                k: summary([r["metrics"][k]["value"] for r in res]) for k in res[0]["metrics"]
            }
            named = {
                k: summary([n[k] for n in per[w]["named"] if k in n])
                for k in per[w]["named"][0] if k not in metrics
            }
            report["workloads"][w]["sets"].append({
                "seeds": seeds,
                "correct": all(r["correct"] for r in res),
                "failed_share": sum(r["failed"] for r in res) / sum(r["attempted"] for r in res),
                "attempted": [r["attempted"] for r in res],
                "wall_s": summary(per[w]["wall"]),
                "metrics": metrics,
                "named": named,
            })
    for w in args.workloads:
        res, named, wall = run_once(w, 1, args.seconds, 1)
        untraced = report["workloads"][w]["sets"][0]["named"]["op_s_p50"]["median"]
        traced = res["metrics"]["traced.op_s_p50"]["value"]
        report["workloads"][w]["traced"] = {
            "correct": res["correct"],
            "wall_s": wall,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "overhead": traced / untraced - 1,
        }
    with open(os.path.join(ROOT, ".perfbench", "steady.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    print(f"run length --seconds {args.seconds}; spread = (q3 - q1) / median; "
          "drift = change of the median from set 1 to set 2, + is worse\n")
    for w, rep in report["workloads"].items():
        sets = rep["sets"]
        print(f"### {w}\n")
        print("| metric | set | median | q1 | q3 | spread | bound/3 |")
        print("|---|---|---|---|---|---|---|")
        for k in sets[0]["metrics"]:
            for i, st in enumerate(sets):
                m = st["metrics"][k]
                print(f"| {k} | {i + 1} | {m['median']:.4g} | {m['q1']:.4g} | {m['q3']:.4g} | "
                      f"{m['spread']:.3f} | {bounds.get(k, float('nan')) / 3:.3f} |")
        for k in sets[0]["named"]:
            for i, st in enumerate(sets):
                m = st["named"][k]
                print(f"| {k} | {i + 1} | {m['median']:.4g} | {m['q1']:.4g} | {m['q3']:.4g} | {m['spread']:.3f} | |")
        for k in sets[0]["metrics"]:
            a, b = sets[0]["metrics"][k]["median"], sets[1]["metrics"][k]["median"]
            drift = (b - a) / a * (1 if better.get(k) == "lower" else -1)
            print(f"\ndrift {k}: {drift:+.3f} (bound {bounds.get(k)})", end="")
        print()
        for i, st in enumerate(sets):
            print(f"\nset {i + 1}: correct={st['correct']} failed share={st['failed_share']} "
                  f"attempted={st['attempted']} wall median={st['wall_s']['median']:.1f} s")
        t = rep["traced"]
        print(f"\ntraced run: correct={t['correct']} wall={t['wall_s']:.1f} s "
              f"tracing overhead on op_s_p50 = {t['overhead']:+.3f}")
        for k, v in t["metrics"].items():
            print(f"- {k}: {v:.4g}")
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
