"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169 — public): score every raw document by the hashed-n-gram
log-likelihood ratio between a TARGET corpus (the distribution you want
more of) and the RAW corpus, so downstream selection (top-k, hash-threshold
resampling, ``mix_corpus``) can tilt the training mixture toward the
target.

Feature model (the paper's recipe): lowercase whitespace unigrams +
bigrams, hashed into ``n_buckets`` buckets; bucket unigram+bigram counts
define two multinomials (add-1 smoothed), and a document's score is
Σ_features [log p_target(b) − log p_raw(b)].

Engine discipline:

- the bucket hash is the portable 32-bit md5 slice mod n_buckets (the
  repo's cross-engine hash family — the DuckDB oracle reproduces every
  bucket id bit-for-bit);
- per-bucket weights are QUANTIZED to integer micro-nats
  (``round(w · 1e6)``, half-away — the engine's rounding contract), so a
  document's score is an exact int64 dot product Σ n_b · w_int[b]:
  order-free, hash-stable across engines and partitionings (a raw double
  sum would depend on Spark's nondeterministic partial-agg order);
- both engines derive the weights from the same integer counts with the
  same IEEE ops (ln of identical doubles), so the quantized weights agree
  except on exact .5-micro-nat boundaries (measure-zero for ln outputs).

100-TB shape: target counts are ONE combinable groupBy over the (usually
small) target corpus; raw counts ONE combinable groupBy over raw; the
weight dim is bounded by ``n_buckets`` and broadcast into the per-doc
scoring join; per-doc scores are one more combinable groupBy. No windows,
no corpus-wide joins, no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _exploded_features(df: DataFrame, text_col: str, *keep_cols: str):
    """(keep_cols..., _f) — one row per unigram + bigram feature of the
    lowercased whitespace-split text (empty tokens dropped; bigrams
    joined with one space — the dedup shingle discipline, so the oracle's
    ``w[i] || ' ' || w[i+1]`` mirrors it exactly).

    The word array is MATERIALIZED as a column before the bigram
    ``zip_with`` — referencing the split expression itself inside a
    higher-order-function lambda re-evaluates the whole
    ``filter(split(lower(trim(text))))`` per element (no common-
    subexpression elimination inside HOF lambdas → O(words²) per doc;
    measured 7.8 s vs 0.3 s for the sf0.1 explode)."""
    wa = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda x: x != "",
    )
    with_wa = df.withColumn("_wa", wa)
    n = F.size("_wa")
    m = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("_wa", 1, m),
        F.slice(F.col("_wa"), F.lit(2), m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return with_wa.select(
        *keep_cols, F.explode(F.concat(F.col("_wa"), bigrams)).alias("_f")
    )


def _bucket_col(feat, n_buckets: int):
    """Portable bucket id: first 8 md5 hex chars as a 32-bit int, mod
    n_buckets (non-negative — the 32-bit value is always < 2^32)."""
    return (
        F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long")
        % F.lit(int(n_buckets))
    ).alias("bucket")


def _bucketed_occurrences(
    df: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
    flag_col: str | None = None,
):
    """(id[, flag], bucket) feature-occurrence table built in ONE Arrow
    kernel per task: tokenize → unigrams+bigrams → md5 → bucket, all in
    Python, no explode/md5/conv in the plan (r7 continuation: the JVM
    explode+md5+conv chain was ~5 s of dsir's 8 s at sf1; the kernel is
    ~1.4 s for the same table).

    Row-multiset EQUAL to ``_exploded_features`` + ``_bucket_col`` by
    construction and by test (``test_dsir_kernel_buckets_match_jvm``
    pins doc-level bucket-multiset equality on the corpus AND on
    unicode edge docs — final sigma, Turkish İ, titlecase ǅ, NBSP,
    tab/space mixes):

    - tokens: ``re.split(r'\\s+', text.strip(' ').lower())`` with
      ``re.ASCII`` — Java's default ``\\s`` class is ASCII-only and
      Spark ``trim`` strips 0x20 only; empty tokens dropped like the
      JVM ``filter``;
    - ``str.lower()`` matches UTF8String.toLowerCase on every probed
      divergence candidate while the JVM's default locale lowercases like
      the root locale (en and C do); under a tr/az default locale 'I'/'İ'
      lowercase differently and the kernel and JVM forms diverge;
    - bucket: first 4 md5 bytes big-endian mod n_buckets ≡
      ``conv(substring(md5(f),1,8),16,10) % n_buckets``.

    ids (any orderable dtype) and flags pass through via Arrow ``take``
    — nulls and dtypes preserved exactly; null text ⇒ no rows (the
    explode of a null array)."""
    import re

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    cols = [id_col] + ([flag_col] if flag_col else []) + [text_col]
    base = df.select(*cols).repartition(F.col(id_col))
    fields = [T.StructField(id_col, df.schema[id_col].dataType)]
    if flag_col:
        fields.append(T.StructField(flag_col, T.BooleanType()))
    fields.append(T.StructField("bucket", T.LongType()))
    out_schema = T.StructType(fields)
    nb = int(n_buckets)

    def kern(batches):
        import hashlib

        ws = re.compile(r"\s+", re.ASCII)
        md5 = hashlib.md5
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            texts = batch.column(text_col).to_pylist()
            nfeats = np.zeros(m, dtype=np.int64)
            chunks = []
            for k, t in enumerate(texts):
                if t is None:
                    continue
                toks = [w for w in ws.split(t.strip(" ").lower()) if w]
                if not toks:
                    continue
                feats = toks + [a + " " + b for a, b in zip(toks, toks[1:])]
                bs = np.empty(len(feats), dtype=np.int64)
                for i, f in enumerate(feats):
                    bs[i] = (
                        int.from_bytes(md5(f.encode("utf-8")).digest()[:4], "big")
                        % nb
                    )
                nfeats[k] = len(feats)
                chunks.append(bs)
            if not chunks:
                continue
            idx = pa.array(np.repeat(np.arange(m, dtype=np.int64), nfeats))
            out = {id_col: batch.column(id_col).take(idx)}
            if flag_col:
                out[flag_col] = batch.column(flag_col).take(idx)
            out["bucket"] = pa.array(np.concatenate(chunks), pa.int64())
            yield pa.record_batch(out)

    return base.mapInArrow(kern, out_schema)


def dsir_bucket_counts(
    df: DataFrame,
    n_buckets: int = 10_000,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level hashed-feature bucket counts: (bucket, n) — one
    combinable groupBy over the exploded features."""
    feats = _exploded_features(df, text_col).select(
        _bucket_col(F.col("_f"), n_buckets)
    )
    return feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


def dsir_scores(
    raw: DataFrame,
    target: DataFrame | None = None,
    n_buckets: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_pred=None,
) -> DataFrame:
    """Per-raw-document importance score: (id, dsir_score) where
    ``dsir_score`` is the exact int64 sum of per-feature quantized
    log-ratio weights (micro-nats; divide by 1e6 for nats). Higher =
    more target-like. Documents with no features score 0.

    The target corpus is given either as a separate DataFrame
    (``target``) or — when it is a slice of ``raw`` — as a boolean
    Column ``target_pred`` over raw's rows. The predicate form explodes
    and hashes the corpus ONCE (the md5 feature explosion is the
    dominant stage: r7 measured the separate-target form re-running it
    over the target slice for ~25% extra wall at sf1); results are
    identical because target counts are the same multiset either way."""
    from .dedup import _DEDUP_CACHES

    if (target is None) == (target_pred is None):
        raise ValueError("exactly one of target / target_pred required")

    # ONE feature pass over the raw corpus: the (doc, bucket[, flag])
    # occurrence table is persisted (registered with the dedup cache
    # registry — cache_scope()/release_dedup_caches) and feeds the raw
    # counts, the totals, the target counts (predicate form), AND the
    # scoring join; without it each consumer would re-execute the
    # feature-bucket lineage. The table comes from the Arrow kernel
    # (_bucketed_occurrences) — row-multiset equal to the former JVM
    # explode+md5+conv chain, ~3.5x faster at sf1.
    if target_pred is not None:
        flagged = raw.withColumn("_is_t", target_pred.cast("boolean"))
        bucketed = _bucketed_occurrences(
            flagged, n_buckets, text_col, id_col, "_is_t"
        ).persist()
    else:
        bucketed = _bucketed_occurrences(
            raw, n_buckets, text_col, id_col
        ).persist()
    _DEDUP_CACHES.append(bucketed)

    def _w_micro(nt, nr, denom_t, denom_r):
        # add-1 smoothed log ratio, quantized to integer micro-nats
        # (round half-away, both engines)
        return (
            F.round(
                (
                    F.log((nt + 1).cast("double") / F.lit(denom_t))
                    - F.log((nr + 1).cast("double") / F.lit(denom_r))
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("w_micro")
        )

    if target_pred is not None:
        # target ⊆ raw BY CONSTRUCTION (a flag on raw's rows), so ONE
        # per-bucket aggregate carries both corpus counts, the totals are
        # its column sums (one tiny collect), and the weight dim is a
        # straight projection — no second aggregate pass, no full-outer
        # join. The bounded counts frame is persisted (≤ n_buckets rows)
        # so the totals collect and the dim share one cached-table scan.
        counts = (
            bucketed.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("_nr"),
                F.count_if(F.col("_is_t")).alias("_nt"),
            )
            .persist()
        )
        _DEDUP_CACHES.append(counts)
        tot = counts.agg(F.sum("_nr").alias("_r"), F.sum("_nt").alias("_t")).collect()[0]
        r_tot, t_tot = tot["_r"] or 0, tot["_t"] or 0
        denom_t = float(t_tot + n_buckets)
        denom_r = float(r_tot + n_buckets)
        dim = counts.select(
            "bucket", _w_micro(F.col("_nt"), F.col("_nr"), denom_t, denom_r)
        )
    else:
        r_counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
        t_counts = dsir_bucket_counts(target, n_buckets, text_col).persist()
        _DEDUP_CACHES.append(t_counts)
        t_tot = t_counts.agg(F.sum("n")).collect()[0][0] or 0
        r_tot = r_counts.agg(F.sum("n")).collect()[0][0] or 0
        denom_t = float(t_tot + n_buckets)
        denom_r = float(r_tot + n_buckets)
        # bounded weight dim (≤ n_buckets rows per side)
        dim = (
            t_counts.withColumnRenamed("n", "_nt")
            .join(r_counts.withColumnRenamed("n", "_nr"), on="bucket", how="full")
            .na.fill(0, ["_nt", "_nr"])
            .select(
                "bucket", _w_micro(F.col("_nt"), F.col("_nr"), denom_t, denom_r)
            )
        )

    # Σ over occurrences of w(bucket) ≡ Σ_b n_b·w_b — exact int64 either
    # way; scoring straight off the occurrence table drops the separate
    # per-(doc, bucket) pre-aggregation pass
    scored = (
        bucketed.join(F.broadcast(dim), on="bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("w_micro")).alias("dsir_score"))
    )
    return (
        raw.select(id_col)
        .join(scored, on=id_col, how="left")
        .na.fill(0, ["dsir_score"])
    )
