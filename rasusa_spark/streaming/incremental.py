"""Incremental tier maintenance (SURVEY §2.10; north_rule: "continuous
aggregates", "bucket watermarks").

``merge_increment`` — batch-incremental continuous-aggregate maintenance
for every mergeable tier carrier: build the carrier's partial state from
ONLY the new rows, then merge it into the stored ``{kind}_{tier}`` store
by re-rolling the union of the touched stored rows and the increment with
the carrier's ``from_finer`` at the SAME tier (re-bucketing an on-grid
``bucket_start`` is the identity, so the re-roll is exactly the carrier's
associative merge). Buckets older than the stored watermark are rejected
as late (the engine analog of the reference's ordered-input guard,
source.rs:57-116) or accepted when ``allow_late`` (they merge exactly,
since the merge is associative).

The store is hive-partitioned by bucket day; a merge reads and rewrites
ONLY the partitions its increment touches (dynamic partition overwrite —
the same pattern plans/checkpoint.py uses), so the I/O is O(delta), not
O(store). The per-group watermark lives in a compact side table instead
of being re-derived from a full store scan. With ``files`` the merge is a
crash-safe stage → intent → promote transaction; ``recover_pending``
rolls an interrupted one forward at the start of the next merge on either
path.

The carrier table ``CARRIERS`` drives ``merge_increment`` here and
``plans/retention.apply_tier_retention``. Each entry: kind (= store
prefix) — partials / from_finer — the measure tier retention logs as
dropped.

- ``rollup`` — operators/rollup ``rollup`` / ``rollup_from_finer`` —
  ``n_tok_sum``
- ``hist`` — functions/histsketch ``histogram_rollup`` /
  ``histogram_rollup_from_finer`` — Σ ``hist`` bins
- ``distinct`` — functions/distinct ``distinct_partials`` /
  ``distinct_from_finer`` — ``size(id_set)``
- ``cms`` — functions/cms ``cms_partials`` / ``cms_from_finer`` — ``cnt``
- ``deriv``, ``changes``, ``ohlc``, ``rate``, ``twa`` — operators/timeseries
  ``{kind}_partials`` / ``{kind}_from_finer`` — ``n_samples``
- ``topn`` — operators/timeseries ``topn_partials`` / ``topn_from_finer``
  — ``n_rows``

Every carrier accepts the tiers of ``operators.rollup.TIERS`` (raw, 1h,
1d). The changes, rate and twa merges are exact for increments appended
in (ts, id) order within a bucket; their folds refuse interleaved
same-bucket appends.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cms import cms_from_finer, cms_partials
from ..functions.distinct import distinct_from_finer, distinct_partials
from ..functions.histsketch import histogram_rollup, histogram_rollup_from_finer
from ..operators import timeseries as ts
from ..operators.rollup import rollup, rollup_from_finer, tier_seconds

_PART = "bucket_part"  # hive partition column: day of bucket_start


@contextlib.contextmanager
def _dynamic_overwrite(spark: SparkSession):
    """Scope spark.sql.sources.partitionOverwriteMode=dynamic to one write:
    the previous value is restored on exit so unrelated later
    mode('overwrite').partitionBy(...) writes in the same session don't
    silently become dynamic (ADVICE r5)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem + qualified Path (local/HDFS/S3A alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def read_store(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """Read a parquet store (with ``schema`` when given), or None when it
    does not exist yet — tested through the FS, so a first read logs no
    FileNotFoundException — OR holds no parquet footers (a legitimately
    empty increment can promote a directory containing only _SUCCESS —
    semantically 'no state yet'). Any other failure (corruption,
    permissions) propagates: silently treating those as 'no state' would
    trigger duplicate reprocessing (ADVICE r1)."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    try:
        return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        raise


def _txn_paths(state_path: str, store_name: str) -> dict[str, str]:
    """On-disk layout of one store's merge transaction: ``manifest`` is the
    durable list of input files already folded into the store; ``staging``
    holds the full new content of every touched partition; ``txnwm`` the
    advanced watermark rows; ``intent`` the file list being applied — its
    existence (with _SUCCESS) is the signal that a prepared transaction
    must be rolled FORWARD."""
    return {
        "manifest": os.path.join(state_path, f"{store_name}_files"),
        "staging": os.path.join(state_path, f"{store_name}_txn_staging"),
        "txnwm": os.path.join(state_path, f"{store_name}_txn_wm"),
        "intent": os.path.join(state_path, f"{store_name}_txn_intent"),
    }


def _txn_cleanup(spark: SparkSession, state_path: str, store_name: str) -> None:
    """Commit a promoted transaction: deleting the INTENT first is the
    commit point (recovery replays only while the intent exists); the
    staging/wm scratch goes after."""
    p = _txn_paths(state_path, store_name)
    _fs_delete(spark, p["intent"])
    _fs_delete(spark, p["txnwm"])
    _fs_delete(spark, p["staging"])


def _txn_promote(spark: SparkSession, state_path: str, store_name: str) -> None:
    """Apply a PREPARED transaction: overwrite the touched store partitions
    from staging, advance the watermark, union the intent's file list into
    the manifest, then clean up. Every step is idempotent (staging holds
    the complete new content of each touched partition; manifest union is
    set union; watermark overwrite is absolute), so a kill anywhere here is
    repaired by re-running this function — which ``recover_pending`` does
    on the next merge."""
    p = _txn_paths(state_path, store_name)
    store = os.path.join(state_path, store_name)
    wm_path = os.path.join(state_path, f"{store_name}_wm")

    # The intent pins each staged dataset's schema (ADVICE r5): an EMPTY
    # increment can stage zero parquet part files, and an inferred-schema
    # read of that directory throws on every recovery replay — wedging the
    # store until the intent is hand-deleted. Pre-pinning intents (no DDL
    # columns) fall back to inference, preserving recovery of transactions
    # prepared by older code.
    intent_df = spark.read.parquet(p["intent"])
    first = intent_df.limit(1).collect()[0]
    cols = set(intent_df.columns)

    def _reader(ddl_col: str):
        if ddl_col in cols and getattr(first, ddl_col) is not None:
            return spark.read.schema(T.StructType.fromDDL(getattr(first, ddl_col)))
        return spark.read

    staging = _reader("staging_ddl").parquet(p["staging"])  # _PART is data here
    with _dynamic_overwrite(spark):
        staging.write.mode("overwrite").partitionBy(_PART).parquet(store)

    _reader("txnwm_ddl").parquet(p["txnwm"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(wm_path)

    files = {r.path for r in intent_df.select("path").collect()}
    manifest = read_store(spark, p["manifest"])
    if manifest is not None:
        files |= {r.path for r in manifest.collect()}
    spark.createDataFrame(
        sorted((f,) for f in files), "path string"
    ).coalesce(1).write.mode("overwrite").parquet(p["manifest"])

    _txn_cleanup(spark, state_path, store_name)


def recover_pending(spark: SparkSession, state_path: str, store_name: str) -> bool:
    """Repair a merge transaction interrupted by a crash (ADVICE r4: the
    old flow's single post-hoc manifest made a kill between merge and
    manifest double-count the non-idempotent sum/histogram/CMS tiers on
    resume). Two cases:

    - intent present (with _SUCCESS): the transaction was fully prepared —
      roll it FORWARD by replaying the idempotent promote. Returns True.
    - no (valid) intent: any staging/wm scratch is from a crash BEFORE the
      prepare phase committed — the store and manifest are untouched, so
      the scratch is dead weight; delete it. The interrupted files stay
      out of the manifest and the next merge re-applies them from the
      original input. Returns False.

    Callers must run this BEFORE reading the manifest to compute the
    not-yet-merged file set (a pending transaction's files land in the
    manifest only during replay)."""
    p = _txn_paths(state_path, store_name)
    fs, intent_jpath = _fs(spark, p["intent"])
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    if not fs.exists(intent_jpath) or not fs.exists(
        jvm_path(os.path.join(p["intent"], "_SUCCESS"))
    ):
        _txn_cleanup(spark, state_path, store_name)
        return False
    _txn_promote(spark, state_path, store_name)
    return True


def _merge_increment(
    spark: SparkSession,
    inc: DataFrame,
    state_path: str,
    store_name: str,
    group_cols: list[str],
    remerge,
    allow_late: bool,
    txn_files: list[str] | None = None,
) -> DataFrame:
    """Shared O(delta) merge machinery: watermark guard, partition-pruned
    read of only the touched bucket days, ``remerge(union)`` to re-aggregate
    (must be exactly associative), dynamic partition overwrite, compact
    per-group watermark advance. ``inc`` must be the increment already
    aggregated to (group_cols, bucket_start) granularity.

    With ``txn_files`` (the input file paths ``inc`` was built from) the
    merge is a crash-safe roll-forward TRANSACTION: the merged content of
    every touched partition is staged durably first, then an intent record
    commits the prepare phase, then a replayable promote applies store +
    watermark + per-store file manifest together. A kill at any point
    either leaves the store/manifest pair untouched (pre-intent) or is
    rolled forward exactly once by ``recover_pending`` — never a partial
    state that re-merges the same file into a non-idempotent carrier."""
    if txn_files is not None and not txn_files:
        raise ValueError(
            "txn merge called with an empty file list — nothing to "
            "fold; list new files first (the no-op has no intent to "
            "record)"
        )
    # a crashed prior transaction must roll forward BEFORE this merge
    # reads the watermark/manifest, on BOTH paths: a plain merge that
    # skipped it would write over partitions that the pending intent's
    # stale staging later replays over (driver-side FS checks only when
    # no intent exists — no Spark job)
    recover_pending(spark, state_path, store_name)
    inc = inc.persist()
    store = os.path.join(state_path, store_name)
    wm_path = os.path.join(state_path, f"{store_name}_wm")
    wm = read_store(spark, wm_path)

    if wm is not None and not allow_late:
        late = inc.join(wm, on=group_cols, how="inner").where(
            F.col("bucket_start") < F.col("_wm")
        )
        n_late = late.count()
        if n_late:
            inc.unpersist()
            raise ValueError(
                f"{n_late} late bucket-updates behind the watermark; "
                "pass allow_late=True to merge them (exact, associative)"
            )

    if txn_files is not None:
        p = _txn_paths(state_path, store_name)
        manifest = read_store(spark, p["manifest"])
        if manifest is not None:
            seen = {r.path for r in manifest.collect()}
            dup = sorted(f for f in txn_files if f in seen)
            if dup:
                inc.unpersist()
                raise ValueError(
                    f"{len(dup)} input file(s) already in {store_name}'s "
                    f"merged manifest (first: {dup[0]}) — stale file list; "
                    "run recover_pending and re-list before merging"
                )

    part_expr = F.date_format("bucket_start", "yyyyMMdd").alias(_PART)
    existing = read_store(spark, store)
    if existing is not None:
        # partition-pruned read of ONLY the touched days (bounded driver
        # list: one entry per distinct increment day)
        touched = [r[0] for r in inc.select(part_expr).distinct().collect()]
        merged = remerge(
            existing.where(F.col(_PART).isin(touched)).drop(_PART).unionByName(inc)
        )
        if txn_files is None:
            # the write below overwrites partitions the plan also reads —
            # cut the lineage first (bounded: only touched partitions);
            # the txn path materializes to staging instead, which both
            # cuts the lineage and makes the promote replayable
            merged = merged.localCheckpoint(eager=True)
    else:
        merged = inc

    # advance the compact per-group watermark table (tiny — one row/group)
    inc_wm = inc.groupBy(*group_cols).agg(F.max("bucket_start").alias("_wm"))
    if wm is not None:
        new_wm = (
            wm.unionByName(inc_wm)
            .groupBy(*group_cols)
            .agg(F.max("_wm").alias("_wm"))
        )
    else:
        new_wm = inc_wm

    if txn_files is not None:
        # prepare: stage merged partitions (durable, outside the store —
        # _PART stays a DATA column so read-back types survive), then the
        # advanced watermark, then the intent marker LAST (its _SUCCESS
        # commits the prepare phase)
        staged = merged.withColumn(_PART, F.date_format("bucket_start", "yyyyMMdd"))
        staged.write.mode("overwrite").parquet(p["staging"])
        new_wm_rows = new_wm.collect()  # bounded: one row per group
        spark.createDataFrame(new_wm_rows, new_wm.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p["txnwm"])
        # schema DDLs ride in the intent so the replayed promote never
        # depends on part files existing in staging (empty increments)
        staging_ddl = staged.schema.toDDL()
        txnwm_ddl = new_wm.schema.toDDL()
        spark.createDataFrame(
            [(f, staging_ddl, txnwm_ddl) for f in txn_files],
            "path string, staging_ddl string, txnwm_ddl string",
        ).coalesce(1).write.mode("overwrite").parquet(p["intent"])
        inc.unpersist()
        _txn_promote(spark, state_path, store_name)
        return _stored_tier(spark, store, inc.schema)

    with _dynamic_overwrite(spark):
        merged.withColumn(
            _PART, F.date_format("bucket_start", "yyyyMMdd")
        ).write.mode("overwrite").partitionBy(_PART).parquet(store)

    new_wm_rows = new_wm.collect()  # bounded: one row per group
    inc.unpersist()
    spark.createDataFrame(new_wm_rows, new_wm.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(wm_path)
    return _stored_tier(spark, store, inc.schema)


def _stored_tier(spark: SparkSession, store: str, schema) -> DataFrame:
    """The merged tier without its hive partition column; a store with no
    part files yet (an empty first increment) reads as an empty frame of
    the increment's schema."""
    stored = read_store(spark, store)
    return spark.createDataFrame([], schema) if stored is None else stored.drop(_PART)


@dataclass(frozen=True)
class Carrier:
    """One mergeable tier carrier. ``build`` / ``reroll`` are its partials
    and from_finer operators; ``by_width`` marks the time_bucket signature
    ``(df, width_s, series_cols=…)`` of operators/timeseries.py instead of
    ``(df, tier, group_cols=…)``. ``finer_params`` are the params that
    from_finer takes as well as partials. ``dropped`` is the SQL measure of
    one state row that tier retention logs as ``n_tok_dropped``."""

    build: Callable[..., DataFrame]
    reroll: Callable[..., DataFrame]
    dropped: str
    finer_params: tuple[str, ...] = ()
    by_width: bool = False

    def _call(self, fn, df: DataFrame, tier: str, group_cols, params) -> DataFrame:
        if self.by_width:
            return fn(df, tier_seconds(tier), series_cols=list(group_cols), **params)
        return fn(df, tier, group_cols=list(group_cols), **params)

    def partials(self, df: DataFrame, tier: str, group_cols, **params) -> DataFrame:
        """The carrier's state at ``tier`` built from raw rows."""
        return self._call(self.build, df, tier, group_cols, params)

    def from_finer(self, df: DataFrame, tier: str, group_cols, **params) -> DataFrame:
        """Stored state re-rolled to ``tier`` — bit-equal to ``partials``
        over the same raw rows; at the state's own tier it is the merge."""
        kept = {k: v for k, v in params.items() if k in self.finer_params}
        return self._call(self.reroll, df, tier, group_cols, kept)


#: kind (= store prefix: the store is ``{kind}_{tier}``) → carrier
CARRIERS: dict[str, Carrier] = {
    "rollup": Carrier(rollup, rollup_from_finer, "n_tok_sum"),
    "hist": Carrier(
        histogram_rollup, histogram_rollup_from_finer,
        "aggregate(hist, 0L, (a, x) -> a + x)",
    ),
    "distinct": Carrier(
        distinct_partials, distinct_from_finer, "size(id_set)", ("max_set_size",)
    ),
    "cms": Carrier(cms_partials, cms_from_finer, "cnt"),
    "deriv": Carrier(ts.deriv_partials, ts.deriv_from_finer, "n_samples", by_width=True),
    "changes": Carrier(
        ts.changes_partials, ts.changes_from_finer, "n_samples", by_width=True
    ),
    "topn": Carrier(
        ts.topn_partials, ts.topn_from_finer, "n_rows", ("key_col",), by_width=True
    ),
    "ohlc": Carrier(ts.ohlc_partials, ts.ohlc_from_finer, "n_samples", by_width=True),
    "rate": Carrier(
        ts.rate_partials, ts.rate_from_finer, "n_samples", ("counter",), by_width=True
    ),
    "twa": Carrier(ts.twa_partials, ts.twa_from_finer, "n_samples", by_width=True),
}


def carrier(kind: str) -> Carrier:
    if kind not in CARRIERS:
        raise ValueError(
            f"unknown carrier kind {kind!r}; expected one of {list(CARRIERS)}"
        )
    return CARRIERS[kind]


def merge_increment(
    spark: SparkSession,
    kind: str,
    new_rows: DataFrame,
    state_path: str,
    *,
    tier: str = "1h",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    allow_late: bool = False,
    files: list[str] | None = None,
    **params,
) -> DataFrame:
    """Fold ``new_rows`` into the ``{kind}_{tier}`` store at ``state_path``
    and return the updated tier. ``params`` are the carrier's partials
    params (``id_col``, ``key_col``, ``max_set_size``, ``counter``, …).
    Watermark = max bucket per group already merged (kept in a compact
    side table, not re-derived from the store); late rows (bucket <
    watermark) raise unless ``allow_late``. Only the bucket-day partitions
    the increment touches are read and rewritten; ``files`` makes the merge
    a crash-safe transaction (see ``_merge_increment``). An unknown kind or
    tier raises ValueError before any Spark job."""
    c = carrier(kind)
    group_cols = list(group_cols)
    inc = c.partials(new_rows, tier, group_cols, **params)
    return _merge_increment(
        spark, inc, state_path, f"{kind}_{tier}", group_cols,
        lambda union: c.from_finer(union, tier, group_cols, **params),
        allow_late, txn_files=files,
    )


def merge_rollup_increment(spark, new_rows, state_path, **kw) -> DataFrame:
    return merge_increment(spark, "rollup", new_rows, state_path, **kw)


def merge_histogram_increment(spark, new_rows, state_path, **kw) -> DataFrame:
    return merge_increment(spark, "hist", new_rows, state_path, **kw)
