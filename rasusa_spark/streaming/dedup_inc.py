"""O(delta) incremental minhash-LSH dedup (VERDICT r4 Next #8).

A 100-TB crawl pipeline cannot re-run corpus-wide LSH on every arrival:
the batch pass (operators/dedup.py:minhash_lsh_pairs) is O(corpus) per
invocation. This module maintains a PERSISTED signature/band store and
folds each new batch of document files in O(delta):

- signatures are built for the NEW docs only (one corpus-wide scan per
  doc lifetime, never again);
- candidate pairs involving >=1 new doc come from two band joins —
  new x new, and new x stored where the stored side is read with real
  partition pruning: the band store is laid out as
  ``bands/txn=<id>/shard=<pmod(bucket, n_shards)>/`` and the probe reads
  only the shards the delta's buckets land in (``PushedFilters`` on the
  shard partition column; at 100 TB the store is additionally bucketed by
  (band, bucket) for a shuffle-free sort-merge probe);
- pairs are verified by signature agreement (the same
  ``signature_agreement`` expression the batch path uses) and appended;
  the signature store is itself shard-partitioned
  (``sigs/txn=<id>/sig_shard=<pmod(hash(id), n_shards)>/``) so the
  verification joins read only the shards the increment's candidate ids
  land in — O(delta), not O(corpus), in I/O (VERDICT r5 Next #3).

Exactness (the kill-resume pytest contract): signatures are a
deterministic function of (seed, text) — never partition layout — and
banding/verification reuse the batch path's expressions verbatim
(operators/dedup.py:signature_bands / signature_agreement). Every
unordered pair {a, b} is discovered in exactly ONE increment (the one
that introduces the later-arriving doc), so after any split of the input
across any number of runs, the union of emitted pairs is bit-equal to
``minhash_lsh_pairs`` over the whole corpus (tests/test_streaming.py).

Crash safety mirrors the tier merges (streaming/incremental.py, ADVICE
r4): each increment is a roll-forward transaction — stage sigs/bands/
pairs durably, commit an INTENT carrying the file list and a
deterministic txn id, then promote into per-txn store directories
(idempotent: a replayed promote overwrites the same txn dir), union the
per-store file manifest, and clean up. ``recover_pending_dedup`` rolls a
prepared transaction forward or clears a pre-intent crash's scratch.

Store geometry (n_perm, n_bands, shingle_n, seed, threshold, one_perm,
n_shards) is pinned in a config row on first merge; a later merge with
different geometry raises instead of silently mixing incomparable
signatures (same contract as the CMS sketch geometry carry).

Reference parity note: the reference engine has no incremental dedup —
this is part of the training-data-pipeline surface the build adds; the
resumable-commit posture mirrors its @PG lineage chain
(src/alignment.rs:214-238 in spirit: every output records how it was
produced and reprocessing is refused, not repeated).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rasusa_spark.operators.dedup import (
    minhash_signatures,
    minhash_signatures_oph,
    signature_agreement,
    signature_bands,
)
from rasusa_spark.streaming.incremental import (
    _fs,
    _fs_delete,
    read_store,
)

_STORE = "minhash_store"

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)

_CONFIG_FIELDS = (
    "n_perm",
    "n_bands",
    "shingle_n",
    "seed",
    "threshold",
    "one_perm",
    "n_shards",
    "pairs_schema",  # pins the id type too — a type change is a mismatch
)


def _paths(state_path: str) -> dict[str, str]:
    root = os.path.join(state_path, _STORE)
    return {
        "root": root,
        "sigs": os.path.join(root, "sigs"),
        "bands": os.path.join(root, "bands"),
        "pairs": os.path.join(root, "pairs"),
        "config": os.path.join(root, "config"),
        "manifest": os.path.join(state_path, "minhash_files"),
        "staging_sigs": os.path.join(state_path, "minhash_txn_sigs"),
        "staging_bands": os.path.join(state_path, "minhash_txn_bands"),
        "staging_pairs": os.path.join(state_path, "minhash_txn_pairs"),
        "intent": os.path.join(state_path, "minhash_txn_intent"),
        "compact_staging_sigs": os.path.join(
            state_path, "minhash_compact_sigs"
        ),
        "compact_staging_bands": os.path.join(
            state_path, "minhash_compact_bands"
        ),
        "compact_intent": os.path.join(state_path, "minhash_compact_intent"),
    }


def _sig_shard_expr(id_col_expr, n_shards: int):
    """Shard assignment for the signature store: pmod of the engine hash
    works for ANY id type (long or string) — a store-internal layout key,
    never a cross-engine contract."""
    return F.pmod(F.hash(id_col_expr), F.lit(n_shards)).cast("int")


def _txn_id(files: list[str]) -> str:
    """Deterministic transaction id from the input file list — recovery
    recomputes it from the intent record, so a replayed promote lands in
    the SAME per-txn store directory (idempotent overwrite)."""
    return hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()[:12]


def _txn_cleanup_dedup(spark: SparkSession, state_path: str) -> None:
    p = _paths(state_path)
    _fs_delete(spark, p["intent"])
    _fs_delete(spark, p["staging_sigs"])
    _fs_delete(spark, p["staging_bands"])
    _fs_delete(spark, p["staging_pairs"])


def _txn_promote_dedup(spark: SparkSession, state_path: str) -> None:
    """Apply a PREPARED dedup transaction. Idempotent end to end: each
    staged dataset overwrites its own ``txn=<id>`` subdirectory (static
    target per txn), the manifest update is a set union, and cleanup
    deletes the intent last-but-first (deleting the intent is the commit
    point — recovery replays only while it exists)."""
    p = _paths(state_path)
    intent_rows = spark.read.parquet(p["intent"]).collect()
    files = sorted(r.path for r in intent_rows)
    txn = _txn_id(files)
    # staged datasets can legitimately be EMPTY (an increment with zero
    # new pairs writes no parquet part files) — the intent carries each
    # staging dir's schema so the replayed read never depends on files
    schemas = {
        k: T.StructType.fromDDL(getattr(intent_rows[0], k))
        for k in ("sigs_schema", "bands_schema", "pairs_schema")
    }

    sigs = spark.read.schema(schemas["sigs_schema"]).parquet(p["staging_sigs"])
    # sig_shard is a data column in staging; promoting it to a partition
    # directory gives the verification join real partition pruning
    # (VERDICT r5 Next #3: the per-increment sigs scan was O(corpus))
    sigs.write.mode("overwrite").partitionBy("sig_shard").parquet(
        os.path.join(p["sigs"], f"txn={txn}")
    )
    bands = spark.read.schema(schemas["bands_schema"]).parquet(
        p["staging_bands"]
    )  # shard is a data column here
    bands.write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(p["bands"], f"txn={txn}")
    )
    pairs = spark.read.schema(schemas["pairs_schema"]).parquet(p["staging_pairs"])
    pairs.write.mode("overwrite").parquet(os.path.join(p["pairs"], f"txn={txn}"))

    all_files = set(files)
    manifest = read_store(spark, p["manifest"])
    if manifest is not None:
        all_files |= {r.path for r in manifest.collect()}
    spark.createDataFrame(
        sorted((f,) for f in all_files), "path string"
    ).coalesce(1).write.mode("overwrite").parquet(p["manifest"])

    _txn_cleanup_dedup(spark, state_path)


def recover_pending_dedup(spark: SparkSession, state_path: str) -> bool:
    """Repair an interrupted dedup merge: a committed intent (with
    _SUCCESS) rolls FORWARD via the idempotent promote; anything else is
    pre-intent scratch — delete it, the store/manifest pair is untouched
    and the interrupted files re-apply from the input on the next merge.
    Callers must run this before reading the manifest (the flow wrapper
    and ``merge_minhash_increment`` itself both do)."""
    p = _paths(state_path)
    fs, intent_jpath = _fs(spark, p["intent"])
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    if not fs.exists(intent_jpath) or not fs.exists(
        jvm_path(os.path.join(p["intent"], "_SUCCESS"))
    ):
        _txn_cleanup_dedup(spark, state_path)
        return False
    _txn_promote_dedup(spark, state_path)
    return True


def _compact_promote_dedup(spark: SparkSession, state_path: str) -> None:
    """Replayable compaction promote (bands + sigs together): write each
    consolidated txn directory (static targets ⇒ idempotent), delete the
    folded txn dirs, then the intent (commit point) and scratch."""
    p = _paths(state_path)
    intent_rows = spark.read.parquet(p["compact_intent"]).collect()
    folded = sorted(r.txn for r in intent_rows)
    cid = "c-" + _txn_id(folded)
    first = intent_rows[0]

    bands = spark.read.schema(T.StructType.fromDDL(first.bands_schema)).parquet(
        p["compact_staging_bands"]
    )
    bands.write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(p["bands"], f"txn={cid}")
    )
    sigs = spark.read.schema(T.StructType.fromDDL(first.sigs_schema)).parquet(
        p["compact_staging_sigs"]
    )
    sigs.write.mode("overwrite").partitionBy("sig_shard").parquet(
        os.path.join(p["sigs"], f"txn={cid}")
    )
    for t in folded:
        _fs_delete(spark, os.path.join(p["bands"], f"txn={t}"))
        _fs_delete(spark, os.path.join(p["sigs"], f"txn={t}"))
    _fs_delete(spark, p["compact_intent"])
    _fs_delete(spark, p["compact_staging_bands"])
    _fs_delete(spark, p["compact_staging_sigs"])


def recover_pending_dedup_compaction(
    spark: SparkSession, state_path: str
) -> bool:
    """Roll a prepared dedup-store compaction forward, or clear pre-intent
    scratch. Run before any merge/compact — a half-promoted compaction
    leaves duplicate band/sig rows until replayed."""
    p = _paths(state_path)
    fs, intent_jpath = _fs(spark, p["compact_intent"])
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    if not fs.exists(intent_jpath) or not fs.exists(
        jvm_path(os.path.join(p["compact_intent"], "_SUCCESS"))
    ):
        _fs_delete(spark, p["compact_intent"])
        _fs_delete(spark, p["compact_staging_bands"])
        _fs_delete(spark, p["compact_staging_sigs"])
        return False
    _compact_promote_dedup(spark, state_path)
    return True


def compact_minhash_store(spark: SparkSession, state_path: str) -> dict:
    """Fold all committed ``bands/txn=*/shard=*`` and
    ``sigs/txn=*/sig_shard=*`` directories into ONE consolidated txn each,
    one file per shard partition (VERDICT r5 Next #4): k increments
    accrete k files per probed shard, so probe cost grows with increment
    count; compaction restores file-count-proportional-to-bytes. Probe
    identity (identical candidate/verification inputs, hence identical
    pairs) is pinned by test; the pairs tree is append-only output and is
    NOT compacted here (no pruned reads depend on its layout). Crash
    safety: stage both datasets → one intent (_SUCCESS = prepare commit)
    → replayable promote; only fully-committed ingest txns are folded.
    The ingest manifest is untouched."""
    from rasusa_spark.streaming.ann_inc import _list_txn_dirs

    recover_pending_dedup(spark, state_path)
    recover_pending_dedup_compaction(spark, state_path)
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

    txns = _list_txn_dirs(spark, p["bands"])
    if set(txns) != set(_list_txn_dirs(spark, p["sigs"])):
        raise ValueError(
            "bands/sigs txn sets differ — the store is mid-recovery; run "
            "recover_pending_dedup first"
        )
    before = _count_files(p["bands"]) + _count_files(p["sigs"])
    if len(txns) <= 1:
        return {"folded_txns": 0, "files_before": before, "files_after": before}

    bands = (
        spark.read.option("basePath", p["bands"])
        .parquet(p["bands"])
        .drop("txn")
        .repartition("shard")
    )
    bands.write.mode("overwrite").parquet(p["compact_staging_bands"])
    sigs = (
        spark.read.option("basePath", p["sigs"])
        .parquet(p["sigs"])
        .drop("txn")
        .repartition("sig_shard")
    )
    sigs.write.mode("overwrite").parquet(p["compact_staging_sigs"])
    spark.createDataFrame(
        [(t, bands.schema.toDDL(), sigs.schema.toDDL()) for t in txns],
        "txn string, bands_schema string, sigs_schema string",
    ).coalesce(1).write.mode("overwrite").parquet(p["compact_intent"])
    _compact_promote_dedup(spark, state_path)
    return {
        "folded_txns": len(txns),
        "files_before": before,
        "files_after": _count_files(p["bands"]) + _count_files(p["sigs"]),
    }


def _check_config(spark: SparkSession, state_path: str, cfg: dict) -> None:
    p = _paths(state_path)
    stored = read_store(spark, p["config"])
    if stored is None:
        spark.createDataFrame(
            [tuple(cfg[k] for k in _CONFIG_FIELDS)],
            "n_perm int, n_bands int, shingle_n int, seed int, "
            "threshold double, one_perm boolean, n_shards int, "
            "pairs_schema string",
        ).coalesce(1).write.mode("overwrite").parquet(p["config"])
        return
    row = stored.collect()[0].asDict()
    mismatch = {
        k: (row[k], cfg[k]) for k in _CONFIG_FIELDS if row[k] != cfg[k]
    }
    if mismatch:
        raise ValueError(
            f"minhash store geometry mismatch {mismatch}: signatures built "
            "with different (n_perm, n_bands, shingle_n, seed, threshold, "
            "one_perm, n_shards) are not comparable — use a fresh store"
        )


def minhash_pairs_store(spark: SparkSession, state_path: str) -> DataFrame:
    """All verified pairs emitted so far (union over increments). Reads
    with the schema pinned in the store config so a store whose every
    increment emitted zero pairs (only _SUCCESS markers on disk) still
    reads back as an empty, correctly-typed table."""
    p = _paths(state_path)
    cfg = read_store(spark, p["config"])
    if cfg is None:
        return spark.createDataFrame([], PAIRS_SCHEMA)
    schema = T.StructType.fromDDL(cfg.collect()[0].pairs_schema)
    fs, root = _fs(spark, p["pairs"])
    if not fs.exists(root):
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", p["pairs"])
        .parquet(p["pairs"])
        .select("id_a", "id_b", "est_jaccard")
    )


def merge_minhash_increment(
    spark: SparkSession,
    docs_delta: DataFrame,
    state_path: str,
    *,
    files: list[str],
    n_perm: int = 64,
    n_bands: int = 32,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    one_perm: bool = False,
    n_shards: int = 64,
) -> DataFrame:
    """Fold one batch of NEW document files into the persisted minhash
    store and return the updated pairs table. ``docs_delta`` must be the
    rows of exactly ``files`` (the flow wrapper reads unseen files and
    passes both), with doc ids globally unique across the corpus — the
    same at-most-once-per-doc contract the budget stream's checkpoint
    enforces upstream.

    Cost: one signature build over the DELTA (the only scan of the new
    text), two band joins whose stored side reads only the touched
    shards, and one signature-lookup join per candidate side. Nothing
    re-reads previously-ingested text, ever."""
    recover_pending_dedup(spark, state_path)
    recover_pending_dedup_compaction(spark, state_path)
    p = _paths(state_path)
    id_type = docs_delta.schema[id_col].dataType.simpleString()
    _check_config(
        spark,
        state_path,
        {
            "n_perm": n_perm,
            "n_bands": n_bands,
            "shingle_n": shingle_n,
            "seed": seed,
            "threshold": float(threshold),
            "one_perm": one_perm,
            "n_shards": n_shards,
            "pairs_schema": (
                f"id_a {id_type}, id_b {id_type}, est_jaccard double"
            ),
        },
    )

    manifest = read_store(spark, p["manifest"])
    if manifest is not None:
        seen = {r.path for r in manifest.collect()}
        dup = sorted(f for f in files if f in seen)
        if dup:
            raise ValueError(
                f"{len(dup)} input file(s) already in the minhash manifest "
                f"(first: {dup[0]}) — stale file list; re-list after "
                "recover_pending_dedup"
            )

    build = minhash_signatures_oph if one_perm else minhash_signatures
    sigs_delta = build(
        docs_delta, n_perm, shingle_n, seed, text_col, id_col
    ).persist()
    bands_delta = signature_bands(sigs_delta, n_perm, n_bands, id_col).withColumn(
        "shard", F.pmod(F.col("bucket"), F.lit(n_shards)).cast("int")
    )
    bands_delta = bands_delta.persist()

    # candidates involving >=1 new doc: new x new (canonical order inside
    # the delta) + new x stored (canonical order via least/greatest — the
    # stored doc may sort before OR after the new one)
    nn = (
        bands_delta.alias("x")
        .join(bands_delta.alias("y"), on=["band", "bucket"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
    )
    stored_bands = read_store(spark, p["bands"])
    if stored_bands is not None:
        # bounded driver list (<= n_shards entries): real partition
        # pruning on the store read — only shards the delta probes
        touched = [
            r[0] for r in bands_delta.select("shard").distinct().collect()
        ]
        old = stored_bands.where(F.col("shard").isin(touched)).select(
            F.col(id_col).alias("_oid"), "band", "bucket"
        )
        no = (
            bands_delta.select(F.col(id_col).alias("_nid"), "band", "bucket")
            .join(old, on=["band", "bucket"])
            .select(
                F.least("_nid", "_oid").alias("id_a"),
                F.greatest("_nid", "_oid").alias("id_b"),
            )
        )
        cand = nn.unionByName(no).distinct()
    else:
        cand = nn.distinct()
    cand = cand.persist()

    # verification signatures: this delta's + ONLY the stored sig shards
    # the candidate ids land in (VERDICT r5 Next #3 — the sigs store is
    # laid out as sigs/txn=*/sig_shard=pmod(hash(id), n_shards)/, so both
    # candidate→signature joins read O(delta-touched shards), not the
    # whole corpus; ids are globally unique, so each signature exists in
    # exactly one txn)
    stored_sigs = read_store(spark, p["sigs"])
    sig_lookup = sigs_delta.select(id_col, "signature")
    if stored_sigs is not None:
        # bounded driver list (<= n_shards entries)
        touched_sig = [
            r[0]
            for r in cand.select(
                F.explode(
                    F.array(
                        _sig_shard_expr(F.col("id_a"), n_shards),
                        _sig_shard_expr(F.col("id_b"), n_shards),
                    )
                ).alias("s")
            )
            .distinct()
            .collect()
        ]
        sig_lookup = sig_lookup.unionByName(
            stored_sigs.where(F.col("sig_shard").isin(touched_sig)).select(
                id_col, "signature"
            )
        )
    pairs_delta = (
        cand.join(
            sig_lookup.select(
                F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            sig_lookup.select(
                F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
            ),
            "id_b",
        )
        .withColumn(
            "est_jaccard",
            signature_agreement(F.col("sig_a"), F.col("sig_b"), n_perm),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )

    # prepare (durable staging), intent LAST, then replayable promote —
    # identical crash-safety posture to the tier merges
    sigs_out = sigs_delta.select(id_col, "signature").withColumn(
        "sig_shard", _sig_shard_expr(F.col(id_col), n_shards)
    )
    sigs_out.write.mode("overwrite").parquet(p["staging_sigs"])
    bands_delta.write.mode("overwrite").parquet(p["staging_bands"])
    pairs_delta.write.mode("overwrite").parquet(p["staging_pairs"])
    ddl = (
        sigs_out.schema.toDDL(),
        bands_delta.schema.toDDL(),
        pairs_delta.schema.toDDL(),
    )
    spark.createDataFrame(
        [(f, *ddl) for f in files],
        "path string, sigs_schema string, bands_schema string, "
        "pairs_schema string",
    ).coalesce(1).write.mode("overwrite").parquet(p["intent"])
    sigs_delta.unpersist()
    bands_delta.unpersist()
    cand.unpersist()
    _txn_promote_dedup(spark, state_path)
    return minhash_pairs_store(spark, state_path)
