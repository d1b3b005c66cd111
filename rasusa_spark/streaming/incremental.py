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
ONLY the partitions its increment touches, so the I/O is O(delta), not
O(store). Every merge, with or without ``files``, is one replayable
transaction (``_merge_increment``): stage the merged touched days, commit
an intent that carries the advanced per-group watermark, then promote by
renaming the staged day directories into the store. ``recover_pending``
rolls an interrupted one forward at the start of the next merge. So:

- a kill before the intent commits leaves the store untouched, and the
  rerun folds the increment once;
- a kill after it is rolled forward by the next merge, which applies the
  store and the watermark together; a rerun of the same increment is then
  refused as late — unless every bucket it holds is its group's newest
  one, which the watermark admits (so a plain rerun of a single-bucket
  increment folds it twice);
- ``files`` adds a per-store manifest of the input files already folded:
  a file is folded exactly once, and re-sending one is refused.

The watermark and the intent are a few rows each: the driver writes them
with pyarrow through the Hadoop FS, not with Spark jobs. Spark runs one
bounded aggregate of the increment (late check, touched days and new
watermark in one collect) and one staging write, plus the manifest check
with ``files``; AQE is off for these increment-sized queries.

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

import datetime as dt
import os
import uuid
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.cms import cms_from_finer, cms_partials
from ..functions.distinct import distinct_from_finer, distinct_partials
from ..functions.histsketch import histogram_rollup, histogram_rollup_from_finer
from ..operators import timeseries as ts
from ..operators.rollup import rollup, rollup_from_finer, tier_seconds
from ..session import scoped_conf

_PART = "bucket_part"  # hive partition column: day of bucket_start


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem + qualified Path (local/HDFS/S3A alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def _child(spark: SparkSession, parent, name: str):
    """Hadoop Path ``name`` under the Hadoop Path ``parent``."""
    return spark._jvm.org.apache.hadoop.fs.Path(parent, name)  # noqa: SLF001


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src} to {dst}")


def _write_bytes(fs, jpath, data: bytes) -> None:
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _read_bytes(spark: SparkSession, fs, jpath) -> bytes:
    stream = fs.open(jpath)
    try:
        return bytes(
            spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)  # noqa: SLF001
        )
    finally:
        stream.close()


def parquet_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


def put_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Write one small file from the driver: to a hidden sibling (readers
    skip ``.``-names), then renamed over ``path``."""
    fs, jpath = _fs(spark, path)
    tmp = _child(spark, jpath.getParent(), f".{jpath.getName()}.tmp")
    _write_bytes(fs, tmp, data)
    fs.delete(jpath, True)
    _rename(fs, tmp, jpath)


def _put_dir(spark: SparkSession, path: str, files: dict[str, bytes]) -> None:
    """Replace the directory ``path`` by one holding exactly ``files``,
    written under ``{path}.tmp`` and swapped in by a rename. A kill between
    the delete and the rename leaves ``path`` absent; every caller runs
    inside a promote, which the intent replays."""
    fs, jpath = _fs(spark, path)
    _, tmp = _fs(spark, f"{path}.tmp")
    fs.delete(tmp, True)
    for name, data in files.items():
        _write_bytes(fs, _child(spark, tmp, name), data)
    fs.delete(jpath, True)
    _rename(fs, tmp, jpath)


def _read_table(spark: SparkSession, path: str) -> pa.Table | None:
    """A small parquet dataset (a file, or a directory of part files) read
    on the driver; None when it does not exist or holds no part file."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    parts = [
        st.getPath()
        for st in fs.listStatus(jpath)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    if not parts:
        return None
    return pa.concat_tables(
        pq.read_table(pa.BufferReader(_read_bytes(spark, fs, p))) for p in parts
    )


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
    durable list of input files already folded into the store (one part
    file per transaction); ``staging`` holds the full new content of every
    touched day partition; ``intent`` commits a prepared transaction — its
    ``part-<id>.parquet`` lists the input files (none on the plain path),
    its ``_wm.parquet`` is the advanced watermark, and its existence with
    ``_SUCCESS`` is the signal that the transaction must be rolled
    FORWARD."""
    base = os.path.join(state_path, store_name)
    return {
        "store": base,
        "wm": f"{base}_wm",
        "manifest": f"{base}_files",
        "staging": f"{base}_txn_staging",
        "intent": f"{base}_txn_intent",
    }


def _txn_cleanup(spark: SparkSession, state_path: str, store_name: str) -> None:
    """Commit a promoted transaction: deleting the INTENT first is the
    commit point (recovery replays only while the intent exists); the
    staging scratch goes after."""
    p = _txn_paths(state_path, store_name)
    _fs_delete(spark, p["intent"])
    _fs_delete(spark, f"{p['intent']}.tmp")
    _fs_delete(spark, p["staging"])


def _txn_promote(spark: SparkSession, state_path: str, store_name: str) -> None:
    """Apply a PREPARED transaction: rename every staged ``bucket_part=``
    directory over the store's, write the watermark the intent carries,
    add the intent's file list to the manifest, then clean up. Each step is
    idempotent — a staged day is moved once and then no longer staged, the
    watermark write is absolute and the manifest part file is named after
    the transaction — so a kill anywhere here is repaired by re-running
    this function, which ``recover_pending`` does on the next merge."""
    p = _txn_paths(state_path, store_name)
    fs, store = _fs(spark, p["store"])
    fs.mkdirs(store)
    _, staging = _fs(spark, p["staging"])
    if fs.exists(staging):
        for st in fs.listStatus(staging):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(f"{_PART}="):
                fs.delete(_child(spark, store, name), True)
                _rename(fs, st.getPath(), _child(spark, store, name))

    _, intent = _fs(spark, p["intent"])
    wm = _read_bytes(spark, fs, _child(spark, intent, "_wm.parquet"))
    _put_dir(spark, p["wm"], {"part-00000.parquet": wm, "_SUCCESS": b""})
    for st in fs.listStatus(intent):
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            put_file(
                spark, os.path.join(p["manifest"], name),
                _read_bytes(spark, fs, st.getPath()),
            )
    _txn_cleanup(spark, state_path, store_name)


def recover_pending(spark: SparkSession, state_path: str, store_name: str) -> bool:
    """Repair a merge transaction interrupted by a crash, on either path
    (ADVICE r4: a kill between a store write and its bookkeeping made the
    resume double-count the non-idempotent sum/histogram/CMS tiers). Two
    cases:

    - intent present (with _SUCCESS): the transaction was fully prepared —
      roll it FORWARD by replaying the idempotent promote, which applies
      the staged days, the watermark and the file list together. Returns
      True.
    - no (valid) intent: any staging scratch is from a crash BEFORE the
      prepare phase committed — the store, watermark and manifest are
      untouched, so the scratch is dead weight; delete it. The interrupted
      increment stays unapplied: a rerun folds it once (with ``files``, the
      files are still absent from the manifest). Returns False.

    Callers must run this BEFORE reading the watermark or the manifest (a
    pending transaction's watermark and files land only during replay).
    Driver-side FS calls only: no Spark job."""
    p = _txn_paths(state_path, store_name)
    fs, intent = _fs(spark, p["intent"])
    if not fs.exists(_child(spark, intent, "_SUCCESS")):
        _txn_cleanup(spark, state_path, store_name)
        return False
    _txn_promote(spark, state_path, store_name)
    return True


def _micros(col: pa.ChunkedArray) -> list[int]:
    """A parquet timestamp column (Spark's INT96 or micros, any zone) as
    epoch microseconds."""
    return col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64()).to_pylist()


def _read_wm(spark: SparkSession, path: str, group_cols: list[str]) -> dict:
    """The per-group watermark: group key tuple → epoch micros."""
    table = _read_table(spark, path)
    if table is None:
        return {}
    keys = zip(*(table.column(c).to_pylist() for c in group_cols))
    return dict(zip(keys, _micros(table.column("_wm"))))


def _wm_table(wm: dict, schema: T.StructType, group_cols: list[str]) -> pa.Table:
    """The watermark as the table Spark reads back: the group columns in
    their increment types and ``_wm`` typed like ``bucket_start``."""
    keys = sorted(wm, key=repr)
    cols = {
        c: pa.array([k[i] for k in keys], to_arrow_type(schema[c].dataType))
        for i, c in enumerate(group_cols)
    }
    cols["_wm"] = pa.array([wm[k] for k in keys], pa.int64()).cast(
        to_arrow_type(schema["bucket_start"].dataType)
    )
    return pa.table(cols)


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
    """Shared O(delta) merge: one replayable transaction for both paths.
    ``inc`` must be the increment already aggregated to (group_cols,
    bucket_start) granularity; ``remerge`` re-aggregates a union of stored
    and new rows (it must be exactly associative).

    1. ``recover_pending`` rolls a prepared earlier transaction forward.
    2. One collected aggregate of the persisted increment gives, per
       group, min/max ``unix_micros(bucket_start)`` and the touched
       ``bucket_part`` days: the late check against the watermark, the
       advanced watermark and the days to rewrite.
    3. With ``txn_files``, one filtered read of the manifest refuses input
       files already folded.
    4. ``remerge(touched stored days ∪ inc)`` is staged to
       ``{store}_txn_staging``, one file per touched day; the stored days
       are read partition by partition with the known schema.
    5. The intent — the file list and the advanced watermark — is written
       on the driver and committed by a rename; ``_txn_promote`` then
       renames each staged day over the store's, writes the watermark and
       appends the manifest.

    A kill before 5 commits leaves store, watermark and manifest as they
    were; after it, the next merge rolls the transaction forward exactly
    once. A rerun of the same increment is therefore folded once, or
    refused as late, or (with ``txn_files``) refused as already merged.
    Returns the store, read lazily with the increment's schema."""
    if txn_files is not None and not txn_files:
        raise ValueError(
            "txn merge called with an empty file list — nothing to "
            "fold; list new files first (the no-op has no intent to "
            "record)"
        )
    recover_pending(spark, state_path, store_name)
    p = _txn_paths(state_path, store_name)
    store_schema = T.StructType(
        inc.schema.fields + [T.StructField(_PART, T.StringType())]
    )
    wm = _read_wm(spark, p["wm"], group_cols)
    part_expr = F.date_format("bucket_start", "yyyyMMdd")

    # the increment-sized queries below gain nothing from AQE but its
    # per-stage jobs; data-sized work elsewhere keeps the session's setting
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        inc = inc.persist()
        try:
            us = F.unix_micros(F.col("bucket_start").cast("timestamp"))
            stats = (
                inc.groupBy(*group_cols)
                .agg(
                    F.min(us).alias("_lo"),
                    F.max(us).alias("_hi"),
                    F.collect_set(part_expr).alias("_parts"),
                )
                .collect()
            )  # bounded: one row per group, one entry per touched day
            late = [
                (key, r._lo)
                for r in stats
                if (key := tuple(r[c] for c in group_cols)) in wm and r._lo < wm[key]
            ]
            if late and not allow_late:
                key, lo = late[0]
                raise ValueError(
                    f"{len(late)} group(s) with late bucket-updates behind the "
                    f"watermark (first: {key} at "
                    f"{dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=lo)}); "
                    "pass allow_late=True to merge them (exact, associative)"
                )
            if txn_files is not None:
                _refuse_merged_files(spark, p["manifest"], store_name, txn_files)

            new_wm = dict(wm)
            for r in stats:
                key = tuple(r[c] for c in group_cols)
                new_wm[key] = max(new_wm.get(key, r._hi), r._hi)
            touched = sorted({d for r in stats for d in r._parts})
            if touched:
                fs, store = _fs(spark, p["store"])
                stored = [
                    os.path.join(p["store"], f"{_PART}={t}")
                    for t in touched
                    if fs.exists(_child(spark, store, f"{_PART}={t}"))
                ]
                merged = inc
                if stored:
                    old = (
                        spark.read.schema(store_schema)
                        .option("basePath", p["store"])
                        .parquet(*stored)
                        .drop(_PART)
                    )
                    merged = remerge(old.unionByName(inc)).select(*inc.columns)
                (
                    merged.withColumn(_PART, part_expr)
                    .repartition(len(touched), _PART)  # one file per day
                    .write.mode("overwrite")
                    .partitionBy(_PART)
                    .parquet(p["staging"])
                )
        finally:
            inc.unpersist()

    intent = {"_wm.parquet": parquet_bytes(_wm_table(new_wm, inc.schema, group_cols))}
    if txn_files is not None:
        files = pa.table({"path": pa.array(sorted(txn_files), pa.string())})
        intent[f"part-{uuid.uuid4().hex}.parquet"] = parquet_bytes(files)
    intent["_SUCCESS"] = b""
    _put_dir(spark, p["intent"], intent)
    _txn_promote(spark, state_path, store_name)
    return spark.read.schema(store_schema).parquet(p["store"]).drop(_PART)


def _refuse_merged_files(
    spark: SparkSession, manifest: str, store_name: str, files: list[str]
) -> None:
    """Raise when any of ``files`` is already in the manifest (one filtered
    Spark read: the manifest grows with history)."""
    fs, jpath = _fs(spark, manifest)
    if not fs.exists(jpath):
        return
    dup = sorted(
        r.path
        for r in spark.read.schema("path string")
        .parquet(manifest)
        .where(F.col("path").isin(list(files)))
        .collect()
    )
    if dup:
        raise ValueError(
            f"{len(dup)} input file(s) already in {store_name}'s "
            f"merged manifest (first: {dup[0]}) — stale file list; "
            "run recover_pending and re-list before merging"
        )


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
