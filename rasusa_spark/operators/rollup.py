"""Continuous aggregates, retention tiers, and gap-fill (north_rule).

The reference has no aggregation tiers — the engine adds them per the north
rule: per-(source, bucket) continuous aggregates of ``n_tok``
(sum/count/min/max), re-rolled raw → 1h → 1d, with empty buckets gap-filled
from a calendar spine. Integer accumulators (int64 sums/counts, int32
min/max) make the tier re-rollup exactly associative, so 1h→1d matches the
direct raw→1d recomputation bit-for-bit (SURVEY §2.5).

All of this is plain ``groupBy().agg()`` — map-side partial aggregation and
whole-stage codegen for free; the only shuffle is on (group, bucket), which
is also the table's storage partitioning, so at 100 TB the scan is already
co-partitioned with the aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: tier name → date_trunc unit — the one tier vocabulary of the engine
TIERS = {"raw": "minute", "1h": "hour", "1d": "day"}

_UNIT_SECONDS = {"minute": 60, "hour": 3600, "day": 86400}

_AGG_COLS = ["n_tok_sum", "row_count", "n_tok_min", "n_tok_max"]


def tier_unit(tier: str) -> str:
    """``date_trunc`` unit of a tier; ValueError for a name not in TIERS."""
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}; expected one of {list(TIERS)}")
    return TIERS[tier]


def tier_seconds(tier: str) -> int:
    """Width of a tier's buckets in seconds (the ``width_s`` of the
    time_bucket carriers in operators/timeseries.py)."""
    return _UNIT_SECONDS[tier_unit(tier)]


def bucket_expr(tier: str, ts_col: str = "ts"):
    return F.date_trunc(tier_unit(tier), F.col(ts_col))


def rollup(
    df: DataFrame,
    tier: str,
    *,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok",
) -> DataFrame:
    """Continuous aggregate of the raw table at the given tier."""
    return (
        df.groupBy(*group_cols, bucket_expr(tier, ts_col).alias("bucket_start"))
        .agg(
            F.sum(F.col(value_col).cast("long")).alias("n_tok_sum"),
            F.count(F.lit(1)).alias("row_count"),
            F.min(value_col).alias("n_tok_min"),
            F.max(value_col).alias("n_tok_max"),
        )
        .withColumn("gap_filled", F.lit(False))
    )


def rollup_from_finer(
    finer: DataFrame,
    tier: str,
    *,
    group_cols: tuple[str, ...] | list[str] = ("source",),
) -> DataFrame:
    """Re-rollup a finer tier into a coarser one: sum of sums, sum of
    counts, min of mins, max of maxes — exactly associative on integers, so
    this is bit-equal to recomputing the coarse tier from raw. Gap-filled
    rows (null min/max, zero sums) are excluded — they carry no data."""
    src = finer.where(~F.col("gap_filled"))
    return (
        src.groupBy(
            *group_cols, bucket_expr(tier, "bucket_start").alias("bucket_start")
        )
        .agg(
            F.sum("n_tok_sum").alias("n_tok_sum"),
            F.sum("row_count").alias("row_count"),
            F.min("n_tok_min").alias("n_tok_min"),
            F.max("n_tok_max").alias("n_tok_max"),
        )
        .withColumn("gap_filled", F.lit(False))
    )


def realtime_rollup(
    stored: DataFrame,
    raw: DataFrame,
    tier: str,
    *,
    watermark: str,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok",
) -> DataFrame:
    """Real-time continuous aggregate (TimescaleDB public semantics): the
    MATERIALIZED tier serves every bucket strictly before the
    materialization watermark, and the not-yet-materialized raw tail
    (``ts >= watermark``) is aggregated live and unioned on — so the view
    is always complete and current without re-aggregating history.

    The watermark must be bucket-aligned for the tier; a misaligned
    watermark would split one bucket across the stored and live halves
    and double-count it, so this REFUSES instead (the same alignment
    discipline as tier retention, plans/retention.py). Stored gap-filled
    rows are excluded — the caller gap-fills the unioned view if needed.

    100-TB shape: the stored side is an aggregate-table scan with a
    partition-prunable ``bucket_start < wm`` predicate; the live side is
    ONE combinable groupBy over only the raw rows after the watermark —
    with time-partitioned raw storage both scans prune to their own side
    of the boundary."""
    from datetime import datetime

    wm_dt = datetime.fromisoformat(watermark)
    unit = tier_unit(tier)
    aligned = {
        "minute": wm_dt.replace(second=0, microsecond=0),
        "hour": wm_dt.replace(minute=0, second=0, microsecond=0),
        "day": wm_dt.replace(hour=0, minute=0, second=0, microsecond=0),
    }[unit]
    if aligned != wm_dt:
        raise ValueError(
            f"watermark {watermark!r} is not {unit}-aligned for tier "
            f"{tier!r} — a split bucket would double-count; pass "
            f"{aligned.isoformat(sep=' ')}"
        )
    wm = F.to_timestamp(F.lit(watermark))
    stored_half = stored.where(
        (F.col("bucket_start") < wm) & (~F.col("gap_filled"))
    )
    live = rollup(
        raw.where(F.col(ts_col) >= wm),
        tier,
        ts_col=ts_col,
        group_cols=group_cols,
        value_col=value_col,
    )
    return stored_half.unionByName(live.select(*stored_half.columns))


def gap_fill(
    agg: DataFrame,
    tier: str,
    *,
    group_cols: tuple[str, ...] | list[str] = ("source",),
    span: tuple[str, str] | None = None,
) -> DataFrame:
    """LEFT-join the aggregate onto a dense per-group calendar spine
    (``sequence`` + ``explode``); missing buckets appear with zero
    sums/counts, null min/max, and ``gap_filled = true``.

    ``span`` optionally pins the (start, end) timestamps of the spine;
    default is each group's own [min, max] bucket range. The spine is tiny
    (groups × buckets) and broadcast/NL-joinable; the aggregate side is
    already small post-rollup, so this never touches the raw table.
    """
    if tier == "raw":
        raise ValueError("gap_fill applies to calendar tiers (1h/1d), not raw")
    group_cols = list(group_cols)
    step = F.expr("interval 1 hour" if tier == "1h" else "interval 1 day")
    if span is None:
        bounds = agg.groupBy(*group_cols).agg(
            F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi")
        )
    else:
        lo, hi = span
        bounds = agg.select(*group_cols).distinct().select(
            *group_cols,
            F.to_timestamp(F.lit(lo)).alias("_lo"),
            F.to_timestamp(F.lit(hi)).alias("_hi"),
        )
    spine = bounds.select(
        *group_cols,
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"), step)).alias("bucket_start"),
    )
    out = spine.join(agg, on=[*group_cols, "bucket_start"], how="left")
    return (
        out.withColumn("gap_filled", F.col("n_tok_sum").isNull())
        .na.fill(0, ["n_tok_sum", "row_count"])
    )


def rollup_all_tiers(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok",
    fill: bool = True,
) -> dict[str, DataFrame]:
    """raw → 1h → 1d cascade. 1h and 1d are built from the next-finer tier
    (incremental-maintenance shape), never re-scanning raw; gap-fill applied
    to the calendar tiers."""
    raw = rollup(df, "raw", ts_col=ts_col, group_cols=group_cols, value_col=value_col)
    h1 = rollup_from_finer(raw, "1h", group_cols=group_cols)
    d1 = rollup_from_finer(h1, "1d", group_cols=group_cols)
    if fill:
        h1 = gap_fill(h1, "1h", group_cols=group_cols)
        d1 = gap_fill(d1, "1d", group_cols=group_cols)
    return {"raw": raw, "1h": h1, "1d": d1}
