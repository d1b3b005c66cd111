#!/usr/bin/env python
"""End-to-end streaming ingestion flow (VERDICT r3 #9): file-source
Structured Stream → per-(source, bucket) stateful budget cap →
O(delta) incremental tier merges (1h sum + 1h histogram sketch + 1h
exact-distinct + 1h CMS frequency + 1h regression-statistics tiers, and
the 1d sum tier), resumable
at BOTH levels:

- the STREAM resumes from its Structured Streaming checkpoint
  (``<work>/ck_budget``): a killed/restarted run re-processes no input
  file, and the per-bucket budget state (kept_rows, kept_tokens) carries
  across restarts — the crossing-row contract holds over the whole input
  no matter how many runs it took (streaming/stateful.py);
- the TIER MERGE resumes from PER-STORE merged-files manifests
  (``<work>/state/<store>_files``): each invocation folds ONLY retained
  files not yet merged into that store (``merge_increment`` is exactly
  associative for every carrier it maintains here, so any split of the
  delta across runs yields bit-equal tiers — streaming/incremental.py).
  Each merge is a roll-forward transaction (staging + intent + replayable
  promote): a kill between store write and manifest write — which used to
  double-count the non-idempotent sum/histogram/CMS carriers (ADVICE r4)
  — is repaired exactly once by ``recover_pending`` on the next run.

With ``--dedup-input <dir>`` the flow also folds unseen DOCUMENT parquet
files into a persisted minhash signature/band store and appends the
verified near-dup pairs (streaming/dedup_inc.py) — O(delta) per arrival,
its own manifest + roll-forward transaction, and the union of emitted
pairs stays bit-equal to batch ``minhash_lsh_pairs`` over the whole
corpus no matter how many runs/kills it took (VERDICT r4 Next #8).

Every piece existed since round 2/3; this wires them into one resumable
job (the job-level resumability story). Run:

    python scripts/stream_flow.py --input <parquet dir> --work <dir> \
        --budget 75000 [--bucket-unit day] [--cpus 8]

Repeated invocations with a growing input directory are the production
posture (cron-triggered availableNow drains — Databricks' recommended
incremental pattern); the kill-resume pytest drives two runs over a
half-then-full input and checks the final retained set is byte-identical
to a single-run arrival-order reference, and the tiers bit-equal a
direct re-aggregation (tests/test_streaming.py).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

STREAM_SCHEMA = T.StructType(
    [f for f in TOKENS_SCHEMA.fields if f.name != "tokens"]
)


def _list_parquet_files(spark: SparkSession, path: str) -> list[str]:
    """Driver-side metadata listing of a flat parquet dir via the Hadoop
    FileSystem API (works on local/HDFS/S3A; O(files), never row data —
    same posture as compact_tokens_table's partition inventory)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    root = jvm_path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(root):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(fs.makeQualified(root))
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    )


def _list_parquet_files_recursive(spark: SparkSession, path: str) -> list[str]:
    """Recursive variant for arrival-directory layouts (one subdir per
    delivery, e.g. ``docs/2026-08-18T02/part-*.parquet``) — same
    driver-side O(files) metadata listing, never row data."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    root = jvm_path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(root):
        return []
    out = []
    it = fs.listFiles(fs.makeQualified(root), True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            out.append(st.getPath().toString())
    return sorted(out)


def run_flow(
    spark: SparkSession,
    input_path: str,
    work: str,
    budget: int,
    bucket_unit: str = "day",
    max_files_per_trigger: int = 1,
    drop_fine_before: str | None = None,
    dedup_input: str | None = None,
    dedup_threshold: float = 0.5,
) -> dict:
    """One drain-and-merge round; safe to call repeatedly (both stages are
    resumable, see module docstring). Returns counters for observability."""
    from rasusa_spark.streaming.incremental import (
        merge_increment,
        read_store,
        recover_pending,
    )
    from rasusa_spark.streaming.stateful import streaming_budget_downsample

    retained = os.path.join(work, "retained")
    state = os.path.join(work, "state")

    # 1. drain all currently-available input through the stateful budget
    # cap (availableNow: processes every unseen file, then stops; the
    # checkpoint makes reprocessing impossible across runs/kills)
    q = streaming_budget_downsample(
        spark,
        input_path,
        os.path.join(work, "ck_budget"),
        retained,
        STREAM_SCHEMA,
        budget,
        bucket_unit=bucket_unit,
        max_files_per_trigger=max_files_per_trigger,
    )
    q.awaitTermination()

    # 2. fold ONLY the not-yet-merged retained files into the tiers.
    # ADVICE r4: each store keeps its OWN merged-files manifest, and each
    # merge is a roll-forward transaction (staging + intent + replayable
    # promote, streaming/incremental.py) — a kill anywhere between/inside
    # the five merges can no longer double-count the non-idempotent
    # sum/histogram/CMS carriers on resume: an interrupted store is either
    # untouched (its files re-apply from the input) or rolled forward
    # exactly once by recover_pending before its next merge.
    all_files = _list_parquet_files(spark, retained)
    legacy_manifest = os.path.join(state, "merged_files")

    def merge_store(kind: str, tier: str, **params):
        store_name = f"{kind}_{tier}"
        recover_pending(spark, state, store_name)
        manifest_path = os.path.join(state, f"{store_name}_files")
        manifest = read_store(spark, manifest_path)
        if manifest is None:
            # one-time migration: seed from the pre-r5 global manifest so
            # existing work dirs don't re-merge their whole history
            legacy = read_store(spark, legacy_manifest)
            if legacy is not None:
                legacy.coalesce(1).write.mode("overwrite").parquet(manifest_path)
                manifest = spark.read.parquet(manifest_path)
        seen = (
            {r.path for r in manifest.collect()} if manifest is not None else set()
        )
        new = [f for f in all_files if f not in seen]
        if not new:
            return 0, None
        delta = spark.read.schema(OUT_SCHEMA_FLOW).parquet(*new)
        return len(new), merge_increment(
            spark, kind, delta, state, tier=tier, allow_late=True, files=new,
            **params,
        )

    n_new, merged = merge_store("rollup", "1h")
    merge_store("hist", "1h")
    merge_store("rollup", "1d")
    merge_store("distinct", "1h", id_col="doc_id")
    merge_store("cms", "1h", item_col="doc_id")
    merge_store("deriv", "1h")
    merge_store("ohlc", "1h")
    merge_store("topn", "1h", key_col="doc_id")
    # NOT wired: the changes / rate / twa carriers. They are
    # ORDER-SENSITIVE — their folds refuse same-bucket (ts, id)
    # interleaves by contract, and this flow's retained files split
    # buckets arbitrarily (verified: the changes fold refuses here,
    # loudly). Pipelines whose increments arrive in time order maintain
    # them via merge_increment(kind="changes" | "rate" | "twa") directly.
    merged_buckets = merged.count() if merged is not None else 0
    new_files = n_new
    # 3. optional tier-cascade retention: drop 1h bucket-day partitions
    # older than a day-aligned cutoff once the 1d store covers them
    # bit-for-bit (plans/retention.apply_tier_retention refuses otherwise)
    tier_dropped = 0
    if drop_fine_before is not None:
        from rasusa_spark.plans.retention import apply_tier_retention

        tier_dropped = apply_tier_retention(
            spark, state, drop_before=drop_fine_before
        ).count()

    # 4. optional O(delta) dedup increment: fold unseen DOCUMENT files
    # into the persisted minhash signature/band store and append the
    # verified near-dup pairs (streaming/dedup_inc.py — its own manifest
    # and roll-forward transaction, same crash posture as the tiers)
    dedup_new, dedup_pairs = 0, 0
    if dedup_input is not None:
        from rasusa_spark.streaming.dedup_inc import (
            merge_minhash_increment,
            minhash_pairs_store,
            recover_pending_dedup,
        )

        recover_pending_dedup(spark, state)
        doc_files = _list_parquet_files_recursive(spark, dedup_input)
        m = read_store(spark, os.path.join(state, "minhash_files"))
        seen_docs = {r.path for r in m.collect()} if m is not None else set()
        new_docs = [f for f in doc_files if f not in seen_docs]
        dedup_new = len(new_docs)
        if new_docs:
            pairs = merge_minhash_increment(
                spark,
                spark.read.parquet(*new_docs),
                state,
                files=new_docs,
                threshold=dedup_threshold,
            )
        else:
            pairs = minhash_pairs_store(spark, state)
        dedup_pairs = pairs.count()

    return {
        "retained_files": len(all_files),
        "new_files_merged": new_files,
        "tier_1h_buckets": merged_buckets,
        "tier_partitions_dropped": tier_dropped,
        "dedup_files_merged": dedup_new,
        "dedup_pairs_total": dedup_pairs,
    }


# retained-file schema (stream output: OUT_SCHEMA + bucket_start)
OUT_SCHEMA_FLOW = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("bucket_start", T.TimestampType()),
    ]
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--budget", type=int, required=True)
    ap.add_argument("--bucket-unit", default="day")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    ap.add_argument(
        "--drop-fine-before",
        default=None,
        help="day-aligned cutoff: drop 1h tier partitions older than this "
        "once the 1d store covers them bit-for-bit",
    )
    ap.add_argument(
        "--dedup-input",
        default=None,
        help="directory of document parquet files: fold unseen ones into "
        "the persisted minhash store (O(delta) near-dup pairs)",
    )
    ap.add_argument("--dedup-threshold", type=float, default=0.5)
    args = ap.parse_args()

    from rasusa_spark.session import get_spark

    spark = get_spark(
        "stream_flow",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    stats = run_flow(
        spark,
        args.input,
        args.work,
        args.budget,
        bucket_unit=args.bucket_unit,
        max_files_per_trigger=args.max_files_per_trigger,
        drop_fine_before=args.drop_fine_before,
        dedup_input=args.dedup_input,
        dedup_threshold=args.dedup_threshold,
    )
    print(
        f"stream_flow: {stats['new_files_merged']} new retained files merged "
        f"({stats['retained_files']} total), "
        f"{stats['tier_1h_buckets']} 1h buckets in tier, "
        f"{stats['tier_partitions_dropped']} fine tier partitions dropped, "
        f"{stats['dedup_files_merged']} doc files deduped "
        f"({stats['dedup_pairs_total']} pairs total)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
