#!/usr/bin/env python3
"""Benchmark of the rasusa_spark engine: one workload per invocation on
``local[4]``.

    python3 perfbench/run.py --workload daily_budget --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md): ``daily_budget``, ``ingest_dashboard``,
``exact_parity``; ``--workload all`` runs the three one after another in
fresh sessions. Each run sets up (JVM, seeded inputs, pre-built stores,
untimed warm-up operations), then repeats the workload's operation in a
closed loop with one client until ``--seconds`` have passed and at least
the workload's ``min_ops`` operations have completed, checking every
output against DuckDB over the benchmark's own inputs or against published
reference values.

Human-readable ``metric``/``layer`` lines come first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones). ``--trace 1`` turns on the Spark event log, tags
every span's Spark jobs with a job group and writes the spans to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from oracle import CheckFailed  # noqa: E402

WORKLOADS = {
    "daily_budget": ("daily_budget", "DailyBudget"),
    "ingest_dashboard": ("ingest_dashboard", "IngestDashboard"),
    "exact_parity": ("exact_parity", "ExactParity"),
}

#: the per-layer metrics a traced run reports in its result line (the names
#: in BENCHMARK.json); the full per-span table goes to the layer lines and
#: the trace files
PER_LAYER = (
    "session.start_s",
    "rng.shuffle_us_per_row",
    "rng.bernoulli_us_per_row",
    "traced.op_s_p50",
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "spark.executor_cpu_s_per_op",
    "spark.gc_s_per_op",
    "spark.shuffle_write_mb_per_op",
    "spark.spill_mb_per_op",
    "spark.task_retries",
    "incremental.store_files",
)


def stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and the Python workers the JVM
    started, and wait until each has ended."""
    from pyspark import SparkContext

    before = harness.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:  # SparkSession.stop leaves the JVM running
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    harness.wait_gone(before, timeout_s=60)


def rng_probes(tracer) -> dict[str, tuple[float, str]]:
    """Direct calls into the rng layer on one group: the pure-Python PCG64
    shuffle behind budget selection, and the jump-ahead Bernoulli keys
    behind one-pass selection."""
    import numpy as np

    from rasusa_spark import rng, sampler

    lengths = np.random.default_rng(7).integers(8, 1024, size=3000)
    shuffle = []
    for k in range(5):
        with tracer.span("rng.shuffle") as s:
            sampler.select_by_bases(lengths, int(lengths.sum()) // 2, k + 1)
        shuffle.append((s["end"] - s["start"]) / len(lengths))
    idx = np.arange(20_000, dtype=np.uint64)
    bern = []
    for k in range(3):
        with tracer.span("rng.bernoulli") as s:
            rng.pcg64_bernoulli_keys(k + 1, idx, 0.25)
        bern.append((s["end"] - s["start"]) / len(idx))
    return {
        "rng.shuffle_us_per_row": (statistics.median(shuffle) * 1e6, "us/row"),
        "rng.bernoulli_us_per_row": (statistics.median(bern) * 1e6, "us/row"),
    }


def layer_table(tracer, counters: dict) -> dict[str, dict]:
    """Per span name: calls, median and total self time and the Spark
    counters of the jobs the calls launched, over the timed operations; a
    span that only runs outside them (set-up, probes) is summed over all
    its calls."""
    selfs = tracer.self_times()
    table: dict[str, dict] = {}
    for name in dict.fromkeys(s["name"] for s in tracer.spans if "end" in s):
        calls = [s for s in tracer.spans if s["name"] == name and "end" in s]
        timed = [s for s in calls if s["op"] is not None]
        row = {"calls": len(calls), "timed_calls": len(timed), **dict.fromkeys(harness.COUNTERS, 0.0)}
        for s in timed or calls:
            for k, v in counters.get(f"span-{s['id']}", {}).items():
                row[k] += v
        self_s = [selfs[s["id"]] for s in timed or calls]
        row["self_s_p50"] = statistics.median(self_s)
        row["self_s_total"] = sum(self_s)
        table[name] = row
    return table


def run(args, workdir: str, t_start: float) -> tuple[dict, list[str]]:
    traced = bool(args.trace)
    tracer = harness.Tracer(traced)
    lines: list[str] = []
    correct, failed, attempted, ops = True, 0, 0, []
    with harness.RssSampler() as rss:
        with tracer.span("session.start") as s:
            spark, _ = harness.start_session(workdir, traced)
        start_s = s["end"] - s["start"]
        try:
            tracer.sc = spark.sparkContext
            modname, cls = WORKLOADS[args.workload]
            wl = getattr(importlib.import_module(modname), cls)(spark, tracer, workdir, args.seed)

            def run_op(i):
                tracer.op_id = i
                try:
                    return wl.op(i)
                finally:
                    tracer.op_id = None

            wl.setup(run_op)
            setup_s = time.perf_counter() - t_start
            t_begin, cpu_begin = time.perf_counter(), harness.cpu_times()
            while True:
                attempted += 1
                try:
                    ops.append(run_op(attempted - 1))
                    wl.check()
                except CheckFailed as e:
                    correct = False
                    print(f"check failed in operation {attempted - 1}: {e}", file=sys.stderr)
                    break
                except Exception:  # an engine call failed; the run reports it
                    failed += 1
                    traceback.print_exc()
                    break
                if time.perf_counter() - t_begin >= args.seconds and len(ops) >= wl.min_ops:
                    break
            t_final, cpu = time.perf_counter(), harness.cpu_share(cpu_begin, harness.cpu_times())
            if correct and not failed:
                try:
                    wl.final()
                except CheckFailed as e:
                    correct = False
                    print(f"final check failed: {e}", file=sys.stderr)
            probes = rng_probes(tracer) if traced else {}
            wl.con.close()
            t_stop = time.perf_counter()
        finally:
            stop_spark(spark)
    phases = (
        f"phases {args.workload} setup={setup_s:.1f}s timed_loop={t_final - t_begin:.1f}s "
        f"final_checks={t_stop - t_final:.1f}s stop={time.perf_counter() - t_stop:.1f}s; "
        f"machine during the timed loop: busy={cpu['busy']:.2f} iowait={cpu['iowait']:.3f} steal={cpu['steal']:.3f}"
    )
    if not ops:
        raise RuntimeError("no operation completed")

    op_s = [o["span"]["end"] - o["span"]["start"] for o in ops]
    op_cpu_s = [o["span"]["cpu_s"] for o in ops]
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_cpu_s_p50": (statistics.median(op_cpu_s), "s"),
    }
    named = {
        "op_s_p50": (statistics.median(op_s), "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / sum(op_s), "rows/s"),
        "peak_rss_mb": (rss.peak_bytes / 1e6, "MB"),
        **wl.report(op_s),
    }
    for name, (v, unit) in {**e2e, **named}.items():
        lines.append(f"metric {args.workload} {name} {v:.6g} {unit}")
    lines.append(f"ops {args.workload} timed={len(ops)} samples(op_s)={' '.join(f'{x:.3f}' for x in op_s)} "
                 f"samples(op_cpu_s)={' '.join(f'{x:.2f}' for x in op_cpu_s)}")
    lines.append(phases)

    metrics = e2e
    if traced:
        counters = harness.spark_counters(os.path.join(workdir, "eventlog"))
        table = layer_table(tracer, counters)
        n = len(ops)
        timed_groups = {f"span-{s['id']}" for s in tracer.spans if s["op"] is not None}
        tot = dict.fromkeys(harness.COUNTERS, 0.0)
        for g in timed_groups:
            for k, v in counters.get(g, {}).items():
                tot[k] += v
        layers = {
            "session.start_s": (start_s, "s"),
            **probes,
            "traced.op_s_p50": (statistics.median(op_s), "s"),
            "spark.jobs_per_op": (tot["spark_jobs"] / n, "count"),
            "spark.tasks_per_op": (tot["tasks"] / n, "count"),
            "spark.executor_cpu_s_per_op": (tot["executor_cpu_s"] / n, "s"),
            "spark.gc_s_per_op": (tot["gc_s"] / n, "s"),
            "spark.shuffle_write_mb_per_op": (tot["shuffle_write_mb"] / n, "MB"),
            "spark.spill_mb_per_op": (tot["spill_mb"] / n, "MB"),
            "spark.task_retries": (tot["task_retries"], "count"),
            "incremental.store_files": (0.0, "count"),
            **wl.layer_counts(),
        }
        for name, row in sorted(table.items()):
            layers[f"{name}.self_s_p50"] = (row["self_s_p50"], "s")
            lines.append(
                f"layer {args.workload} {name} calls={row['calls']} timed={row['timed_calls']} "
                f"self_s_p50={row['self_s_p50']:.4f} self_s_total={row['self_s_total']:.4f} "
                + " ".join(f"{k}={row[k]:.4g}" for k in harness.COUNTERS)
            )
        for name, (v, unit) in layers.items():
            lines.append(f"layer-metric {args.workload} {name} {v:.6g} {unit}")
        tdir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        stem = os.path.join(tdir, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + "-spans.jsonl", counters)
        with open(stem + "-layers.json", "w") as f:
            json.dump({"layers": table, "metrics": layers, "e2e": e2e}, f, indent=1)
        metrics = {k: layers[k] for k in PER_LAYER}

    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rasusa_spark", "__init__.py")):
        print(
            f"perfbench: no rasusa_spark package next to {HERE}; run the benchmark "
            "from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        rc = 0
        for name in WORKLOADS:
            rc |= main([*(argv or sys.argv[1:]), "--workload", name])
        return rc

    t_start = time.perf_counter()
    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        result, lines = run(args, workdir, t_start)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
