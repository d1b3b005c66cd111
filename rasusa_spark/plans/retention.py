"""Retention-policy enforcement for the tiered store (north_rule:
"coarser retention tiers (raw → 1h → 1d)") — the TimescaleDB
``drop_chunks``/retention-policy analog for the engine's partitioned
retained output.

Semantics: raw retained partitions whose bucket_start < cutoff are
DROPPED, but only after a coverage check proves the coarser tier still
holds their aggregates bit-for-bit (integer accumulators make this an
exact equality, not a tolerance). A refused drop deletes nothing.

Mechanics:

- the drop list comes from the retained data itself (one distinct over
  the partition columns — bounded by partition count, never row count);
- the coverage check re-rolls the ABOUT-TO-DROP rows to the tier's
  granularity and anti-joins against the stored tier on
  (source, bucket, n_tok_sum, row_count): any row of the fresh rollup
  missing from the store means the tier does not cover the span →
  RetentionError, nothing deleted;
- deletion goes through the Hadoop FileSystem API (works on local paths
  here and on HDFS/S3A on a real cluster — never ``shutil``);
- every partition about to be dropped is appended to a ``retention`` log
  next to the commit log BEFORE the delete, carrying (source,
  bucket_start, rows/tokens dropped, run id) — the lineage story stays
  complete after the raw rows are gone. A rerun after a kill between the
  append and the delete reads the log filtered to the doomed buckets and
  skips the rows already there, so each dropped bucket is logged once.
  The log rows are written on the driver (pyarrow through the Hadoop FS),
  not through a Spark job.

Tier-cascade retention (``apply_tier_retention(kind=…)``) applies the same
covered-drop contract to the fine tier of every mergeable carrier in
streaming/incremental.py's ``CARRIERS``: one body re-rolls the doomed
fine rows with the carrier's ``from_finer`` and null-safe anti-joins them
against the coarse store.

Reference: rasusa has no storage tiering; the tier layout mirrors
scripts/run_job.py (`retained/` + `rollup_{raw,1h,1d}/`).
"""

from __future__ import annotations

import os
import uuid
from functools import reduce

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.rollup import rollup, tier_unit
from ..streaming.incremental import _PART, _fs, carrier, parquet_bytes, put_file

# the retention log as the driver writes it; Spark reads it as
# RETENTION_SCHEMA (bucket_start: timestamp)
_LOG_ARROW = pa.schema([
    ("run_id", pa.string()),
    ("source", pa.string()),
    ("bucket_start", pa.timestamp("us", tz="UTC")),
    ("rows_dropped", pa.int64()),
    ("n_tok_dropped", pa.int64()),
    ("tier", pa.string()),
])
RETENTION_SCHEMA = from_arrow_schema(_LOG_ARROW)


class RetentionError(RuntimeError):
    """The coarser tier does not cover the span requested for dropping."""


def _log_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Retention-log rows (``bucket_start`` as epoch micros) as an
    Arrow-backed frame: built in the JVM, no Python worker round trip."""
    return spark.createDataFrame(_log_table(rows))


def _log_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [()] * len(_LOG_ARROW)
    return pa.table(
        [
            pa.array(c, pa.int64()).cast(f.type) if f.name == "bucket_start"
            else pa.array(c, f.type)
            for c, f in zip(cols, _LOG_ARROW)
        ],
        schema=_LOG_ARROW,
    )


def _log_once(
    spark: SparkSession, log_path: str, rows: list[tuple], logged: Column
) -> DataFrame:
    """Append the log ``rows`` of the partitions about to be dropped,
    skipping those already in the log (a killed earlier call appended
    them but deleted nothing). ``logged`` filters the log to the doomed
    buckets. Returns all ``rows`` as a frame."""
    fs, jpath = _fs(spark, log_path)
    new = rows
    if fs.exists(jpath):
        have = {
            tuple(r)
            for r in spark.read.schema(RETENTION_SCHEMA)
            .parquet(log_path)
            .where(logged)
            .select(
                "source", F.unix_micros("bucket_start"), "rows_dropped",
                "n_tok_dropped", "tier",
            )
            .collect()
        }
        new = [r for r in rows if r[1:] not in have]
    if new:
        put_file(
            spark, os.path.join(log_path, f"part-{uuid.uuid4().hex}.parquet"),
            parquet_bytes(_log_table(new)),
        )
    return _log_frame(spark, rows)


def _drop_partitions(spark: SparkSession, root: str, parts: list[str]) -> None:
    """Delete partition directories (relative to ``root``) through the
    Hadoop FS (storage-agnostic)."""
    fs, _ = _fs(spark, root)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    for part in parts:
        fs.delete(jvm_path(os.path.join(root, part)), True)


def _check_cutoff_alignment(
    spark: SparkSession, cutoff, coarse: str, drop_before: str
) -> None:
    """The drop cutoff must sit on a coarse-bucket boundary (else a coarse
    bucket loses part of its fine history) AND on a DAY boundary (ADVICE
    r4: deletion granularity is the ``bucket_part`` day partition, so a
    mid-day cutoff — legal when coarse='1h' — would delete whole day dirs
    that still contain fine rows >= cutoff: unverified data loss)."""
    aligned = spark.range(1).select(
        (F.date_trunc(tier_unit(coarse), cutoff) == cutoff).alias("coarse_ok"),
        (F.date_trunc("day", cutoff) == cutoff).alias("day_ok"),
    ).first()
    if not aligned.coarse_ok:
        raise ValueError(
            f"drop_before {drop_before!r} is not aligned to a {coarse} "
            "bucket boundary — a coarse bucket would lose part of its "
            "fine history"
        )
    if not aligned.day_ok:
        raise ValueError(
            f"drop_before {drop_before!r} is not aligned to a DAY boundary "
            "— deletion granularity is the bucket_part day partition, so a "
            "mid-day cutoff would drop fine rows >= cutoff"
        )


def apply_retention(
    spark: SparkSession,
    output_path: str,
    *,
    drop_before: str,
    tier: str = "1h",
    run_id: str = "retention",
    checkpoint_path: str | None = None,
    force: bool = False,
) -> DataFrame:
    """Drop retained raw partitions with ``bucket_start < drop_before``
    (ISO timestamp string), verifying coverage against the stored
    ``rollup_{tier}`` first. Returns the retention-log rows of the
    partitions this invocation drops (empty if nothing qualified); each is
    appended to the log before its partition is deleted, once.

    ``force=True`` skips the coverage check — for operators that have
    already exported the span elsewhere. The check otherwise requires
    ``{output_path}/rollup_{tier}`` to exist (written by run_job --rollup
    or streaming.incremental)."""
    retained_path = os.path.join(output_path, "retained")
    cutoff = F.to_timestamp(F.lit(drop_before))

    retained = spark.read.parquet(retained_path)
    doomed = retained.where(F.col("bucket_start") < cutoff)

    # partition list + per-partition stats in one bounded aggregate
    stats = (
        doomed.groupBy("source", "bucket_id", "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("rows_dropped"),
            F.sum(F.col("n_tok").cast("long")).alias("n_tok_dropped"),
        )
        .withColumn("bucket_us", F.unix_micros("bucket_start"))
        .collect()
    )
    if not stats:
        return _log_frame(spark, [])

    if not force:
        tier_path = os.path.join(output_path, f"rollup_{tier}")
        tier_unit(tier)
        stored = spark.read.parquet(tier_path).where(~F.col("gap_filled"))
        fresh = rollup(doomed, tier, group_cols=("source",))
        uncovered = fresh.join(
            stored,
            on=["source", "bucket_start", "n_tok_sum", "row_count"],
            how="left_anti",
        )
        missing = uncovered.select("source", "bucket_start").limit(5).collect()
        if missing:
            raise RetentionError(
                f"rollup_{tier} does not cover the drop span bit-for-bit; "
                f"first uncovered buckets: "
                f"{[(r.source, str(r.bucket_start)) for r in missing]} — "
                "nothing was deleted"
            )

    log_df = _log_once(
        spark,
        os.path.join(checkpoint_path or output_path, "retention"),
        [
            (run_id, r.source, r.bucket_us, r.rows_dropped, r.n_tok_dropped, tier)
            for r in stats
        ],
        (F.col("tier") == tier)
        & F.unix_micros("bucket_start").isin([r.bucket_us for r in stats]),
    )
    _drop_partitions(
        spark, retained_path,
        [os.path.join(f"source={r.source}", f"bucket_id={r.bucket_id}") for r in stats],
    )
    return log_df


def read_retention_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "retention"))


def apply_tier_retention(
    spark: SparkSession,
    state_path: str,
    *,
    drop_before: str,
    fine: str = "1h",
    coarse: str = "1d",
    run_id: str = "tier-retention",
    force: bool = False,
    kind: str = "rollup",
    **params,
) -> DataFrame:
    """Retention for the TIER CASCADE itself (the TimescaleDB
    retention-policy-on-continuous-aggregates analog): drop FINE-tier
    bucket-day partitions of the ``{kind}_{fine}`` store older than
    ``drop_before`` once the ``{kind}_{coarse}`` store provably covers them
    — keep 1h for the hot window, 1d forever. ``kind`` is any carrier of
    streaming/incremental.py's ``CARRIERS``; ``params`` are its
    from_finer params (e.g. ``key_col`` for topn).

    Safety contract (mirrors ``apply_retention``):

    - ``drop_before`` must sit ON a coarse-bucket boundary and on a day
      boundary (``_check_cutoff_alignment``) — otherwise a coarse bucket
      would lose part of its fine history;
    - the about-to-drop fine rows are re-rolled to the coarse tier with the
      carrier's ``from_finer`` (bit-equal to a re-aggregation of raw) and
      NULL-SAFE anti-joined against the stored coarse tier on every column
      of the re-rolled carrier (changes carries null runner-up samples in
      singleton buckets; distinct compares the id SETS, not just counts):
      any mismatch — missing coarse bucket, partial fine coverage, drifted
      values — raises :class:`RetentionError` and deletes nothing;
    - the partitions about to be dropped are first appended, once, to
      ``{state}/tier_retention`` with the carrier's ``dropped`` measure as
      ``n_tok_dropped`` and the store name as ``tier`` (the rollup store
      logs the bare fine tier); a rerun after a kill skips rows already
      logged;
    - deletion then removes whole ``bucket_part`` (day) partition
      directories through the Hadoop FileSystem API.

    Works on the stores written by ``merge_increment`` (hive-partitioned by
    ``bucket_part`` = yyyyMMdd of bucket_start)."""
    c = carrier(kind)
    tier_unit(fine), tier_unit(coarse)  # ValueError before any Spark job
    fine_path = os.path.join(state_path, f"{kind}_{fine}")
    cutoff = F.to_timestamp(F.lit(drop_before))

    _check_cutoff_alignment(spark, cutoff, coarse, drop_before)

    doomed = spark.read.parquet(fine_path).where(F.col("bucket_start") < cutoff)
    parts = (
        doomed.groupBy(_PART)
        .agg(
            F.count(F.lit(1)).alias("rows_dropped"),
            F.sum(F.expr(c.dropped)).alias("n_dropped"),
        )
        .collect()
    )
    if not parts:
        return _log_frame(spark, [])

    if not force:
        fresh = c.from_finer(doomed.drop(_PART), coarse, ["source"], **params)
        stored = spark.read.parquet(
            os.path.join(state_path, f"{kind}_{coarse}")
        ).select(*fresh.columns)
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"_f.{k}").eqNullSafe(F.col(f"_s.{k}")) for k in fresh.columns],
        )
        uncovered = fresh.alias("_f").join(stored.alias("_s"), cond, "left_anti")
        missing = uncovered.select("source", "bucket_start").limit(5).collect()
        if missing:
            raise RetentionError(
                f"{kind}_{coarse} does not cover the {kind}_{fine} drop span "
                f"bit-for-bit; first uncovered: "
                f"{[(r.source, str(r.bucket_start)) for r in missing]} — "
                "nothing was deleted"
            )

    label = fine if kind == "rollup" else f"{kind}_{fine}"
    names = [f"{_PART}={r.bucket_part}" for r in parts]
    log_df = _log_once(
        spark,
        os.path.join(state_path, "tier_retention"),
        [
            (run_id, name, None, r.rows_dropped, r.n_dropped, label)
            for name, r in zip(names, parts)
        ],
        (F.col("tier") == label) & F.col("source").isin(names),
    )
    _drop_partitions(spark, fine_path, names)
    return log_df
