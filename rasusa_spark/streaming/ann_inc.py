"""O(delta) incremental IVF ANN store (companion to dedup_inc.py).

A 100-TB embedding corpus can't re-partition itself on every arrival:
``write_ivf_partitioned`` (operators/similarity.py) rewrites the whole
cell-partitioned store. This module maintains the store incrementally:

- the coarse quantizer (centroids) is TRAINED ONCE, on the first
  increment's layout-invariant seeded sample
  (similarity.py:ivf_build_centroids), and pinned in the store config —
  the standard production IVF posture (train once, assign forever;
  codebook drift is handled by an explicit rebuild, never a silent
  retrain that would scatter old vectors across new cells);
- each increment assigns ONLY its new vectors against the pinned
  centroids (one distributed projection over the delta) and lands them
  under ``cells/txn=<id>/ivf_cell=<c>/`` — searches read the whole
  ``cells/`` tree with ``ivf_cell IN (probes)`` partition pruning, so
  probe cost stays proportional to the probed cells' bytes no matter how
  many increments accumulated (compaction folds small txn files, same
  posture as the retained-table compactor);
- crash safety is the same roll-forward transaction as the dedup store:
  staged assignment + an intent carrying the file list and schema, a
  replayable promote into the deterministic per-txn directory, a
  per-store file manifest, and ``recover_pending_ivf`` to roll a
  prepared transaction forward exactly once.

Exactness: assignment is a pure function of (centroids, vector), so the
incrementally-built store holds exactly the rows ``write_ivf_partitioned``
would produce with the same pinned centroids, and ``ivf_topk_pruned``
over either store returns identical results (pinned by pytest, including
an injected-crash resume).

Reference parity note: the reference has no ANN store; this extends the
training-data-pipeline surface (SURVEY §2 additions) with the same
resumable-commit posture as the reference's @PG lineage chain.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rasusa_spark.operators.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_build_centroids,
)
from rasusa_spark.streaming.incremental import (
    _fs,
    _fs_delete,
    read_store,
)

_STORE = "ivf_store"


def _paths(state_path: str) -> dict[str, str]:
    root = os.path.join(state_path, _STORE)
    return {
        "root": root,
        "cells": os.path.join(root, "cells"),
        "centroids": os.path.join(root, "centroids"),
        "manifest": os.path.join(state_path, "ivf_files"),
        "staging": os.path.join(state_path, "ivf_txn_staging"),
        "intent": os.path.join(state_path, "ivf_txn_intent"),
        "compact_staging": os.path.join(state_path, "ivf_compact_staging"),
        "compact_intent": os.path.join(state_path, "ivf_compact_intent"),
    }


def _list_txn_dirs(spark: SparkSession, tree: str) -> list[str]:
    """Driver-side METADATA listing of a store tree's ``txn=<id>``
    children (Hadoop FS — local/HDFS/S3A alike; O(txns), never row
    data)."""
    fs, root = _fs(spark, tree)
    if not fs.exists(root):
        return []
    return sorted(
        st.getPath().getName().split("=", 1)[1]
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("txn=")
    )


def _txn_id(files: list[str]) -> str:
    return hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()[:12]


def _txn_cleanup_ivf(spark: SparkSession, state_path: str) -> None:
    p = _paths(state_path)
    _fs_delete(spark, p["intent"])
    _fs_delete(spark, p["staging"])


def _txn_promote_ivf(spark: SparkSession, state_path: str) -> None:
    """Replayable promote: staged rows overwrite the txn's own cells
    directory (static target ⇒ idempotent), manifest update is set
    union, intent deletion is the commit point."""
    p = _paths(state_path)
    intent_rows = spark.read.parquet(p["intent"]).collect()
    files = sorted(r.path for r in intent_rows)
    txn = _txn_id(files)
    schema = T.StructType.fromDDL(intent_rows[0].staged_schema)

    staged = spark.read.schema(schema).parquet(p["staging"])
    staged.write.mode("overwrite").partitionBy("ivf_cell").parquet(
        os.path.join(p["cells"], f"txn={txn}")
    )

    all_files = set(files)
    manifest = read_store(spark, p["manifest"])
    if manifest is not None:
        all_files |= {r.path for r in manifest.collect()}
    spark.createDataFrame(
        sorted((f,) for f in all_files), "path string"
    ).coalesce(1).write.mode("overwrite").parquet(p["manifest"])

    _txn_cleanup_ivf(spark, state_path)


def recover_pending_ivf(spark: SparkSession, state_path: str) -> bool:
    """Roll a prepared (intent + _SUCCESS) transaction forward; clear
    pre-intent scratch otherwise. Same contract as the dedup/tier
    recoveries — run before reading the manifest."""
    p = _paths(state_path)
    fs, intent_jpath = _fs(spark, p["intent"])
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    if not fs.exists(intent_jpath) or not fs.exists(
        jvm_path(os.path.join(p["intent"], "_SUCCESS"))
    ):
        _txn_cleanup_ivf(spark, state_path)
        return False
    _txn_promote_ivf(spark, state_path)
    return True


def _compact_promote_ivf(spark: SparkSession, state_path: str) -> None:
    """Replayable compaction promote: write the consolidated txn directory
    (static target ⇒ idempotent overwrite), THEN delete the folded txn
    dirs (idempotent), then delete the intent (the commit point) and
    scratch. A kill anywhere is repaired by re-running this."""
    p = _paths(state_path)
    intent_rows = spark.read.parquet(p["compact_intent"]).collect()
    folded = sorted(r.txn for r in intent_rows)
    schema = T.StructType.fromDDL(intent_rows[0].staged_schema)
    cid = "c-" + _txn_id(folded)

    staged = spark.read.schema(schema).parquet(p["compact_staging"])
    staged.write.mode("overwrite").partitionBy("ivf_cell").parquet(
        os.path.join(p["cells"], f"txn={cid}")
    )
    for t in folded:
        _fs_delete(spark, os.path.join(p["cells"], f"txn={t}"))
    _fs_delete(spark, p["compact_intent"])
    _fs_delete(spark, p["compact_staging"])


def recover_pending_ivf_compaction(spark: SparkSession, state_path: str) -> bool:
    """Roll a prepared compaction forward (intent + _SUCCESS present) or
    clear pre-intent scratch. Run before any read/merge/compact of the
    store — a crash mid-promote can leave BOTH the consolidated dir and
    some folded dirs on disk (duplicate rows) until replayed."""
    p = _paths(state_path)
    fs, intent_jpath = _fs(spark, p["compact_intent"])
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    if not fs.exists(intent_jpath) or not fs.exists(
        jvm_path(os.path.join(p["compact_intent"], "_SUCCESS"))
    ):
        _fs_delete(spark, p["compact_intent"])
        _fs_delete(spark, p["compact_staging"])
        return False
    _compact_promote_ivf(spark, state_path)
    return True


def compact_ivf_cells(spark: SparkSession, state_path: str) -> dict:
    """Fold all committed ``cells/txn=*`` directories into ONE
    consolidated txn (one file per ``ivf_cell`` partition) — the
    maintenance action the module header promises (VERDICT r5 Next #4,
    the incremental-store analog of ``compact_tokens_table``): k
    increments accrete k files per probed cell, so probe cost grows with
    increment count, not bytes; compaction restores it.

    Search identity: the consolidated store holds exactly the same rows
    (pinned by test — ``ivf_store_topk`` results are unchanged). Crash
    safety: stage → intent (with _SUCCESS, the prepare commit point) →
    replayable promote; only fully-committed ingest txns are folded
    (``recover_pending_ivf`` runs first). The ingest manifest is
    untouched — compaction moves rows between directories, never changes
    which input files were ingested. Returns
    ``{"folded_txns", "files_before", "files_after"}``."""
    recover_pending_ivf(spark, state_path)
    recover_pending_ivf_compaction(spark, state_path)
    p = _paths(state_path)

    def _count_files(tree: str) -> int:
        fs, root = _fs(spark, tree)
        if not fs.exists(root):
            return 0
        it = fs.listFiles(root, True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    txns = _list_txn_dirs(spark, p["cells"])
    if len(txns) <= 1:
        return {
            "folded_txns": 0,
            "files_before": _count_files(p["cells"]),
            "files_after": _count_files(p["cells"]),
        }
    files_before = _count_files(p["cells"])

    df = spark.read.option("basePath", p["cells"]).parquet(p["cells"])
    # one shuffle on the cell key → exactly one output file per cell
    # (all of a cell's rows hash to one task; partitionBy then emits one
    # file per (task, cell))
    staged = df.drop("txn").repartition("ivf_cell")
    staged.write.mode("overwrite").parquet(p["compact_staging"])
    spark.createDataFrame(
        [(t, staged.schema.toDDL()) for t in txns],
        "txn string, staged_schema string",
    ).coalesce(1).write.mode("overwrite").parquet(p["compact_intent"])
    _compact_promote_ivf(spark, state_path)
    return {
        "folded_txns": len(txns),
        "files_before": files_before,
        "files_after": _count_files(p["cells"]),
    }


def load_centroids(spark: SparkSession, state_path: str) -> np.ndarray:
    """The store's pinned coarse quantizer (row i = centroid of cell i)."""
    p = _paths(state_path)
    rows = spark.read.parquet(p["centroids"]).collect()
    rows.sort(key=lambda r: r.cell)
    return np.array([r.vec for r in rows], dtype=np.float64)


def merge_ivf_increment(
    spark: SparkSession,
    emb_delta: DataFrame,
    state_path: str,
    *,
    files: list[str],
    n_cells: int = 16,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Fold one batch of NEW embedding files into the persisted IVF
    store. First call trains and pins the centroids (on the delta's
    layout-invariant seeded sample); every call assigns only the delta
    and appends it under its own txn directory. ``emb_delta`` must be
    the rows of exactly ``files``; vec ids globally unique."""
    recover_pending_ivf(spark, state_path)
    recover_pending_ivf_compaction(spark, state_path)
    p = _paths(state_path)

    manifest = read_store(spark, p["manifest"])
    if manifest is not None:
        seen = {r.path for r in manifest.collect()}
        dup = sorted(f for f in files if f in seen)
        if dup:
            raise ValueError(
                f"{len(dup)} input file(s) already in the IVF manifest "
                f"(first: {dup[0]}) — stale file list; re-list after "
                "recover_pending_ivf"
            )

    stored_centroids = read_store(spark, p["centroids"])
    if stored_centroids is None:
        centroids = ivf_build_centroids(
            emb_delta, n_cells, sample, iters, seed, vec_col, id_col
        )
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cell int, vec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(p["centroids"])
    else:
        rows = stored_centroids.collect()
        rows.sort(key=lambda r: r.cell)
        if len(rows) != n_cells:
            raise ValueError(
                f"IVF store has {len(rows)} pinned cells, call asked for "
                f"{n_cells} — the codebook is frozen; rebuild the store to "
                "change geometry"
            )
        centroids = np.array([r.vec for r in rows], dtype=np.float64)

    assigned = ivf_assign(emb_delta, centroids, vec_col)
    assigned.write.mode("overwrite").parquet(p["staging"])
    spark.createDataFrame(
        [(f, assigned.schema.toDDL()) for f in files],
        "path string, staged_schema string",
    ).coalesce(1).write.mode("overwrite").parquet(p["intent"])
    _txn_promote_ivf(spark, state_path)


def ivf_store_topk(
    spark: SparkSession,
    state_path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search the incremental store: probe-cell selection against the
    pinned centroids, then a partition-pruned scan (``ivf_cell IN
    (probes)`` prunes both partition levels' non-matching directories)
    and the exact cosine top-k. Identical results to ``ivf_topk_pruned``
    over a batch-written store with the same centroids. A crashed
    compaction is rolled forward first (one FS stat when clean) — a
    half-promoted compaction would otherwise read duplicate rows."""
    recover_pending_ivf_compaction(spark, state_path)
    centroids = load_centroids(spark, state_path)
    q = np.asarray(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(c) for c in (centroids @ q).argsort()[::-1][:nprobe]]
    p = _paths(state_path)
    df = spark.read.parquet(p["cells"]).where(
        F.col("ivf_cell").isin(probe_cells)
    )
    return cosine_topk(df, query, k, vec_col, id_col)
