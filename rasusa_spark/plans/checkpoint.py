"""Checkpointed, resumable downsample job with per-partition lineage
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; FIXTURES.md §4 schema).

Mechanics (all Spark-idiomatic, no driver loops over buckets):

1. The unit of commit is a ``(source, bucket_start)`` partition (bucket =
   day of ``ts``). A parquet commit log holds one row per completed bucket
   with the full lineage: run id, user seed, derived group seed, row/token
   counts, watermark (max ts seen), and a monotone commit ordinal — the
   engine analog of rasusa logging its seed (subsampler.rs:36-38) and
   writing ``@PG`` lineage into output headers (alignment/header.rs:45-97).
2. A (re)started run anti-joins its input against the committed buckets and
   processes only the remainder — in ONE distributed job, not per-bucket.
3. Retained rows land in parquet partitioned by (source, bucket_id), where
   bucket_id is the full bucket_start timestamp rendered as a directory-safe
   string — the physical partition IS the commit unit for ANY bucket_unit.
   (Round 1 partitioned by calendar day regardless of unit: with
   bucket_unit='hour' a resume's dynamic overwrite of one hour silently
   deleted the sibling hours already committed in that day — ADVICE r1.)
   Dynamic partition overwrite makes a bucket interrupted mid-write get
   rewritten identically on resume (selection is a pure function of
   (seed, source, bucket, doc_id) — partition layout and cluster size
   never change the outcome).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.downsample import downsample, release_threshold_caches

COMMIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("seed", T.LongType(), False),
        T.StructField("group_seed", T.LongType(), False),
        T.StructField("rows_seen", T.LongType(), False),
        T.StructField("rows_kept", T.LongType(), False),
        T.StructField("n_tok_seen", T.LongType(), False),
        T.StructField("n_tok_kept", T.LongType(), False),
        T.StructField("watermark", T.TimestampType(), True),
        T.StructField("committed_at_ordinal", T.LongType(), False),
    ]
)


@dataclass(frozen=True)
class DownsampleJob:
    """Parameters of a resumable downsample run."""

    seed: int
    mode: str  # bases | num | frac | one_pass
    bases: int | None = None
    num: int | None = None
    frac: float | None = None
    strategy: str = "threshold"
    bucket_unit: str = "day"
    group_cols: tuple[str, ...] = ("source",)
    extra: dict = field(default_factory=dict)


def _bucketed(df: DataFrame, unit: str) -> DataFrame:
    return df.withColumn("bucket_start", F.date_trunc(unit, F.col("ts")))


def read_commit_log(spark: SparkSession, checkpoint_path: str) -> DataFrame:
    """Read the commit log; an ABSENT log means a fresh run (empty log), but
    any other read failure (corruption, permissions) propagates — silently
    reprocessing everything would append duplicate commit rows and break the
    one-row-per-bucket lineage invariant (ADVICE r1)."""
    from ..streaming.incremental import read_store

    path = os.path.join(checkpoint_path, "commits")
    log = read_store(spark, path, COMMIT_SCHEMA)
    return spark.createDataFrame([], COMMIT_SCHEMA) if log is None else log


def run_downsample_job(
    spark: SparkSession,
    df: DataFrame,
    job: DownsampleJob,
    output_path: str,
    checkpoint_path: str,
    run_id: str,
    max_buckets: int | None = None,
    preserve_order: bool = False,
    order_col: str = "row_idx",
) -> DataFrame:
    """Execute (or resume) the job. ``max_buckets`` is a test hook that
    stops after committing that many buckets — simulating a mid-run crash.
    Returns the commit rows written by THIS invocation.

    ``preserve_order=True`` writes each retained partition as ONE file
    sorted by ``order_col`` — the engine analog of the reference's pass-2
    emission in input order (fastx.rs:338-392): reading a partition
    directory back yields retained rows exactly in input order, for any
    strategy (window/threshold selection is set-semantics otherwise). Costs
    one extra shuffle on the partition key + an in-task sort; leave off
    when consumers re-sort or don't care (the common table-store case)."""
    bucketed = _bucketed(df, job.bucket_unit)
    group_cols = [*job.group_cols, "bucket_start"]

    commits = read_commit_log(spark, checkpoint_path)
    done = commits.select(*group_cols).distinct()
    todo = bucketed.join(done, on=group_cols, how="left_anti")

    if max_buckets is not None:
        some = (
            todo.select(*group_cols)
            .distinct()
            .orderBy(*group_cols)
            .limit(max_buckets)
        )
        todo = todo.join(F.broadcast(some), on=group_cols, how="left_semi")

    kw = {k: getattr(job, k) for k in ("bases", "num", "frac") if getattr(job, k) is not None}
    kept = downsample(
        todo,
        seed=job.seed,
        group_cols=group_cols,
        mode=job.mode,
        strategy=job.strategy if job.mode != "one_pass" else "window",
        **kw,
    )

    # data first (idempotent via dynamic partition overwrite), commits second;
    # the partition key is the commit unit itself (see module docstring)
    from ..session import dynamic_overwrite

    out = kept.withColumn(
        "bucket_id", F.date_format("bucket_start", "yyyyMMdd'T'HHmmss")
    )
    if preserve_order:
        out = out.repartition("source", "bucket_id").sortWithinPartitions(
            "source", "bucket_id", order_col
        )
    with dynamic_overwrite(spark):
        out.write.mode("overwrite").partitionBy("source", "bucket_id").parquet(
            os.path.join(output_path, "retained")
        )

    base_ordinal = commits.agg(
        F.coalesce(F.max("committed_at_ordinal"), F.lit(0))
    ).collect()[0][0]

    seen = todo.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_seen"),
        F.max("ts").alias("watermark"),
    )
    kept_agg = kept.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tok_kept"),
    )
    gseed = F.xxhash64(F.lit(f"rasusa-spark:{job.seed}"), *[F.col(c) for c in group_cols])
    new_commits = (
        seen.join(kept_agg, on=group_cols, how="left")
        .na.fill(0, ["rows_kept", "n_tok_kept"])
        .withColumn("run_id", F.lit(run_id))
        .withColumn("seed", F.lit(job.seed).cast("long"))
        .withColumn("group_seed", gseed)
        .withColumn(
            "committed_at_ordinal",
            F.lit(base_ordinal) + F.row_number().over(Window.orderBy(*group_cols)),
        )
        .select([f.name for f in COMMIT_SCHEMA.fields])
    )
    new_commits.write.mode("append").parquet(os.path.join(checkpoint_path, "commits"))
    # retained + commits are on disk — release the threshold strategy's
    # cached subtree so long-lived sessions don't accumulate blocks
    release_threshold_caches()
    return spark.read.parquet(os.path.join(checkpoint_path, "commits")).where(
        F.col("run_id") == run_id
    )


def read_retained(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_path, "retained"))
