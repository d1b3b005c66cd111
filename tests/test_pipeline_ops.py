"""Tests for the training-data pipeline operators (dedup, similarity, text,
multimodal) against the driver testdata at sf0.001."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from rasusa_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from rasusa_spark.operators.multimodal import (
    extract_features,
    media_stats,
    synth_media_df,
)
from rasusa_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    knn_join_topk,
    lsh_bucket_topk,
)
from rasusa_spark.operators.text import lang_id_udf, quality_features, token_count

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_consistency(spark, docs):
    dups = exact_duplicates(docs).collect()
    kept = dedup_exact(docs)
    n_total, n_kept = docs.count(), kept.count()
    n_extra = sum(r.n_dups - 1 for r in dups)
    assert n_kept == n_total - n_extra
    # kept set has unique content hashes
    assert exact_duplicates(kept).count() == 0


def test_ngram_jaccard_self_similarity(spark, docs):
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    pairs = ngram_jaccard_pairs(doubled, threshold=0.99).collect()
    clones = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    missing = [i for i in ids if (i, i + 100000) not in clones]
    # every doc with ≥3 words must match its clone at jaccard 1.0
    long_ids = {
        r.doc_id
        for r in docs.where(F.size(F.split(F.trim("text"), r"\s+")) >= 3).collect()
    }
    assert all(i not in long_ids for i in missing)


def test_prefix_filter_equals_naive_jaccard(spark, docs):
    """AllPairs prefix filtering must return the IDENTICAL pair set as the
    full self-join (it is an exact algorithm, not an approximation)."""
    for t in (0.3, 0.6):
        fast = ngram_jaccard_pairs(docs, threshold=t, prefix_filter=True)
        naive = ngram_jaccard_pairs(docs, threshold=t, prefix_filter=False)
        a = sorted((r.id_a, r.id_b, r.jaccard) for r in fast.collect())
        b = sorted((r.id_a, r.id_b, r.jaccard) for r in naive.collect())
        assert a == b, f"threshold {t}: prefix-filtered != naive"


def test_numpy_xxh64_string_matches_spark(spark):
    """npxxh.xxh64_strings_vec must be bit-exact vs Spark's
    xxhash64(string[, string]) — single-arg (seed 42) AND chained —
    across every length class (0..40, the 32-byte stripe boundary, 100,
    200) with ascii + unicode bytes. This is the contract that lets the
    gram-hash transform move into the minhash / block-jaccard kernels."""
    import random
    import string as stringmod

    from rasusa_spark.functions import npxxh

    rng = random.Random(7)
    pool = stringmod.ascii_letters + stringmod.digits + " _-%$#é漢字ß "
    cases = []
    for L in list(range(0, 40)) + [47, 63, 64, 100, 200]:
        for _ in range(12):
            cases.append("".join(rng.choice(pool) for _ in range(L)))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i long, s string"
    )
    got = {
        r["i"]: (r["h1"], r["h2"])
        for r in df.select(
            "i",
            F.xxhash64(F.col("s")).alias("h1"),
            F.xxhash64(F.col("s"), F.col("s")).alias("h2"),
        ).collect()
    }
    datas = [c.encode("utf-8") for c in cases]
    offs = np.zeros(len(datas) + 1, dtype=np.int64)
    offs[1:] = np.cumsum([len(d) for d in datas])
    flat = (
        np.frombuffer(b"".join(datas), dtype=np.uint8)
        if offs[-1]
        else np.zeros(1, np.uint8)
    )
    idx = np.arange(len(datas), dtype=np.int64)
    old = np.seterr(over="ignore")
    try:
        h1 = npxxh.xxh64_strings_vec(
            flat, offs, idx, np.full(len(datas), 42, dtype=np.uint64)
        )
        h2 = npxxh.xxh64_strings_vec(flat, offs, idx, h1)
    finally:
        np.seterr(**old)
    for i in range(len(cases)):
        assert (np.int64(h1[i]), np.int64(h2[i])) == got[i], cases[i][:30]


def test_numpy_xxh64_matches_spark(spark):
    """The minhash signature kernel's numpy XXH64 must be bit-exact vs
    Spark's xxhash64 for both composition shapes it uses: the
    (long, long) seed-rehash chain and the (long, int-literal)
    permutation chain (r7 — the kernel replaces the shingle explode +
    64-min aggregate; bit equality is the whole contract)."""
    import pandas as pd

    from rasusa_spark.operators.dedup import minhash_signatures, word_shingles_hashed

    rng = np.random.default_rng(11)
    vals = rng.integers(-(2**63), 2**63, 50_000, dtype=np.int64)
    texts = None  # signature-level identity below covers the kernel e2e
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = df.select(
        F.xxhash64(F.lit(5).cast("long"), F.col("v")).alias("h1"),
        F.xxhash64(F.col("v"), F.lit(7)).alias("hi"),
    ).toPandas()

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)
    c64 = np.uint64(64)

    def rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (c64 - r))

    def fmix(h):
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        h = h ^ (h >> np.uint64(32))
        return h

    def hash_long(l, s):
        h = s + P5 + np.uint64(8)
        h = h ^ (rotl(l * P2, 31) * P1)
        h = rotl(h, 27) * P1 + P4
        return fmix(h)

    def hash_int(i, s):
        h = s + P5 + np.uint64(4)
        h = h ^ (np.uint64(i) * P1)
        h = rotl(h, 23) * P2 + P3
        return fmix(h)

    old = np.seterr(over="ignore")
    try:
        u = vals.view(np.uint64)
        h1 = hash_long(u, hash_long(np.uint64(5), np.uint64(42))).view(np.int64)
        hi = hash_int(7, hash_long(u, np.uint64(42))).view(np.int64)
    finally:
        np.seterr(**old)
    assert (got["h1"].to_numpy() == h1).all()
    assert (got["hi"].to_numpy() == hi).all()


def test_minhash_signature_kernel_bit_identity(spark, docs):
    """The r7 mapInArrow signature builder must emit BIT-IDENTICAL
    signatures to the explode + 64-min-aggregate formulation."""
    from rasusa_spark.operators.dedup import minhash_signatures, word_shingles_hashed

    for seed, nperm in ((1, 64), (9, 16)):
        new = {r[0]: tuple(r[1]) for r in minhash_signatures(docs, nperm, 3, seed).collect()}
        sh = word_shingles_hashed(docs, 3, "text", "doc_id")
        hashed = sh.select(
            F.col("doc_id"),
            F.xxhash64(F.lit(int(seed)).cast("long"), F.col("_shh")).alias("_h"),
        )
        mins = hashed.groupBy("doc_id").agg(
            *[F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}") for i in range(nperm)]
        )
        old = {
            r["doc_id"]: tuple(r[f"_m{i}"] for i in range(nperm))
            for r in mins.collect()
        }
        assert new == old


def test_semantic_dedup_dense_cell_guard(spark, embs):
    """max_cell_rows is a REFUSAL guard: a generous cap changes nothing,
    a cap below the largest cell fails loudly instead of attempting the
    unbounded quadratic (VERDICT r6 #1)."""
    import pytest as _pytest

    from rasusa_spark.operators.similarity import semantic_dedup

    base = {
        (r.vec_id, r.cluster_id)
        for r in semantic_dedup(embs, threshold=0.4, n_cells=8, sample=256).collect()
    }
    capped = {
        (r.vec_id, r.cluster_id)
        for r in semantic_dedup(
            embs, threshold=0.4, n_cells=8, sample=256, max_cell_rows=10_000_000
        ).collect()
    }
    assert capped == base
    with _pytest.raises(Exception, match="max_cell_rows"):
        semantic_dedup(
            embs, threshold=0.4, n_cells=8, sample=256, max_cell_rows=1
        ).collect()


def test_block_sparse_equals_naive_jaccard(spark, docs):
    """The r7 block-sparse kernel (default routing at t < 0.5) must return
    the IDENTICAL pair set as both reference paths — it is exact counting,
    not an approximation."""
    from rasusa_spark.operators.dedup import _jaccard_block_sparse

    for t in (0.2, 0.3, 0.45):
        fast = _jaccard_block_sparse(docs, 3, t, "text", "doc_id")
        naive = ngram_jaccard_pairs(docs, threshold=t, prefix_filter=False)
        a = sorted((r.id_a, r.id_b, r.jaccard) for r in fast.collect())
        b = sorted((r.id_a, r.id_b, r.jaccard) for r in naive.collect())
        assert a == b, f"threshold {t}: block-sparse != naive"
    # default routing: below 0.5 the public API takes the block path
    routed = ngram_jaccard_pairs(docs, threshold=0.3)
    a = sorted((r.id_a, r.id_b, r.jaccard) for r in routed.collect())
    b = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, prefix_filter=False).collect()
    )
    assert a == b


def test_block_sparse_string_ids(spark, docs):
    """Generic orderable ids: output id_a < id_b by VALUE, not by block or
    arrival order (the kernel orders at output via np minimum/maximum)."""
    from rasusa_spark.operators.dedup import _jaccard_block_sparse

    sdocs = docs.withColumn("doc_id", F.concat(F.lit("d"), F.format_string("%05d", "doc_id")))
    fast = _jaccard_block_sparse(sdocs, 3, 0.3, "text", "doc_id")
    naive = ngram_jaccard_pairs(sdocs, threshold=0.3, prefix_filter=False)
    a = sorted((r.id_a, r.id_b, r.jaccard) for r in fast.collect())
    b = sorted((r.id_a, r.id_b, r.jaccard) for r in naive.collect())
    assert a == b
    assert all(x < y for x, y, _ in a)


def test_gram_set_offsets_refuse_int32_overflow():
    """The gram-set kernel's ListArray offsets are int32: a batch whose
    value count passes 2**31 - 1 raises instead of wrapping."""
    from rasusa_spark.operators.dedup import _int32_offsets

    offs = np.array([0, 5, 2**31 - 1], dtype=np.int64)
    out = _int32_offsets(offs)
    assert out.dtype == np.int32 and out.tolist() == offs.tolist()
    with pytest.raises(OverflowError, match="int32"):
        _int32_offsets(np.array([0, 2**31 - 1, 2**31], dtype=np.int64))


def test_prefix_filter_skew_guard(spark):
    """A stop-shingle present in EVERY doc must not blow up the prefix
    join: rarest-first ordering puts it past the prefix cut, so candidate
    volume stays bounded while the naive self-join would see n² rows on
    that one key. Results must still equal the naive path exactly."""
    from rasusa_spark.operators.dedup import _prefix_candidates, word_shingles

    n_docs = 120
    rows = [
        # 8 unique words + a shared trailing trigram ("zz yy xx") per doc
        (i, " ".join(f"w{i}_{j}" for j in range(8)) + " zz yy xx")
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    shh = word_shingles(df, 3).select("doc_id", F.xxhash64("shingle").alias("_shh"))
    # every doc shares the hot shingle "zz yy xx" → naive join would emit
    # n*(n-1)/2 = 7140 candidate rows for that key alone
    cand = _prefix_candidates(shh, threshold=0.6, id_col="doc_id")
    assert cand.count() < n_docs  # bounded, not quadratic
    fast = ngram_jaccard_pairs(df, threshold=0.6, prefix_filter=True)
    naive = ngram_jaccard_pairs(df, threshold=0.6, prefix_filter=False)
    a = sorted((r.id_a, r.id_b, r.jaccard) for r in fast.collect())
    b = sorted((r.id_a, r.id_b, r.jaccard) for r in naive.collect())
    assert a == b


def test_repetition_features_planted(spark):
    from rasusa_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),          # 3 lines, one dup -> 1/3
            (2, "x y x y x y"),             # bigrams: "x y"x3,"y x"x2 -> all dup
            (3, "unique words only here"),  # no repeats
            (4, "solo"),                    # <2 words -> zero gram stats
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_features(df).collect()}
    assert abs(got[1].dup_line_frac - 1 / 3) < 1e-6
    assert got[2].dup_2gram_frac == 1.0
    assert abs(got[2].top_2gram_frac - 0.6) < 1e-6  # 3 of 5
    assert got[3].dup_2gram_frac == 0.0 and got[3].dup_line_frac == 0.0
    assert got[4].dup_2gram_frac == 0.0 and got[4].top_2gram_frac == 0.0


def test_repetition_kernel_matches_jvm(spark, docs):
    """r7: the Arrow repetition kernel must emit EXACTLY the JVM
    array-expression rows — full corpus + edge docs (blank/whitespace
    lines, tabs, unicode case, null text, empty text, single word)."""
    from rasusa_spark.operators.text import repetition_features

    edge = spark.createDataFrame(
        [
            (800001, "a b\na b\n   \nc d\n\na b"),
            (800002, "\tx y\tx y  "),
            (800003, "İstanbul ΣΟΦΟΣ ΑΣ İstanbul ΣΟΦΟΣ"),
            (800004, ""),
            (800005, None),
            (800006, "solo"),
            (800007, "same same same same same same"),
            (800008, "line\nline\nLINE\nline "),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").union(edge)
    a = {r.doc_id: tuple(r)[1:] for r in
         repetition_features(both, kernel=False).collect()}
    b = {r.doc_id: tuple(r)[1:] for r in
         repetition_features(both, kernel=True).collect()}
    assert a == b
    assert len(a) == both.count()


def test_gopher_kernel_matches_jvm(spark, docs):
    """r7: the Arrow gopher-quality kernel must emit EXACTLY the JVM
    rows — full corpus + null/empty/bullet/ellipsis/unicode edges,
    at the bench thresholds AND the defaults."""
    from rasusa_spark.operators.text import gopher_quality_filter

    edge = spark.createDataFrame(
        [
            (810001, None),
            (810002, ""),
            (810003, "   "),
            (810004, "- a\n* b\nc...\nd"),
            (810005, "x#y ... z...."),
            (810006, "the be to of and that have with words enough here"),
            (810007, "İstanbul ΣΟΦΟΣ\tΑΣ\nß..."),
            (810008, "-bullet without space\n*also\n- yes\n* yes "),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").union(edge)
    for kw in ({"min_words": 30, "min_mean_word_len": 3.5}, {}):
        a = {r.doc_id: tuple(r)[1:] for r in
             gopher_quality_filter(both, kernel=False, **kw).collect()}
        b = {r.doc_id: tuple(r)[1:] for r in
             gopher_quality_filter(both, kernel=True, **kw).collect()}
        assert a == b and len(a) == both.count()


def test_redact_kernel_matches_jvm(spark, docs):
    """r7: the Arrow PII kernel must emit EXACTLY the JVM rows including
    the redacted STRING — full corpus + adversarial edges (adjacent
    matches, phone-in-email neighborhood, null/empty)."""
    from rasusa_spark.operators.text import redact_pii

    edge = spark.createDataFrame(
        [
            (820001, None),
            (820002, ""),
            (820003, "a@b.co c@d.org +1 555-123-4567 (555) 765-4321 9"),
            (820004, "x@y.zw@q.vv double-at 12345678901234567890"),
            (820005, "+((( 12345678 ))) not-quite +1 2 3 4 5 6 7 8 9"),
            (820006, "jo.doe+x@example.co.uk."),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").union(edge)
    a = {r.doc_id: tuple(r)[1:] for r in
         redact_pii(both, kernel=False).collect()}
    b = {r.doc_id: tuple(r)[1:] for r in
         redact_pii(both, kernel=True).collect()}
    assert a == b and len(a) == both.count()


def test_token_count_kernel_matches_jvm(spark, docs):
    """r7: kernel token counts ≡ the two regexp_extract_all projections
    on the corpus + whitespace/unicode/null edges."""
    from rasusa_spark.operators.text import token_count_table

    edge = spark.createDataFrame(
        [
            (830001, None),
            (830002, ""),
            (830003, "  x\xa0y\tz  "),
            (830004, "a1b2 c-3.d (e) ß!"),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").union(edge)
    a = {r.doc_id: tuple(r)[1:] for r in
         token_count_table(both, kernel=False).collect()}
    b = {r.doc_id: tuple(r)[1:] for r in
         token_count_table(both, kernel=True).collect()}
    assert a == b and len(a) == both.count()


def test_vocab_kernel_matches_jvm(spark, docs):
    """r7: kernel-pre-aggregated vocab counts ≡ the explode+groupBy form
    (exact string counts, same top-k ordering), corpus + edges."""
    from rasusa_spark.operators.text import vocab_stats

    edge = spark.createDataFrame(
        [(840001, None), (840002, ""), (840003, "A1b2 ß! ß! x\xa0y")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").union(edge)
    a = [(r.token, r.n) for r in vocab_stats(both, kernel=False, k=200).collect()]
    b = [(r.token, r.n) for r in vocab_stats(both, kernel=True, k=200).collect()]
    assert a == b and len(a) > 20  # sf0.001's BPE vocab is tiny


def test_contamination_kernel_matches_jvm(spark, docs):
    """r7: contamination flagging through the kernel shingle sets must
    equal the word_shingles_hashed form — same docs, same shared counts
    (both sides share one hash family; only shingle EQUALITY matters)."""
    from rasusa_spark.operators.dedup import ngram_contamination

    probes = docs.where(F.col("doc_id") % 20 == 0)
    rest = docs.where(F.col("doc_id") % 20 != 0)
    a = {r.doc_id: r.shared_shingles for r in
         ngram_contamination(rest, probes, n=3, min_shared=2,
                             kernel=False).collect()}
    b = {r.doc_id: r.shared_shingles for r in
         ngram_contamination(rest, probes, n=3, min_shared=2,
                             kernel=True).collect()}
    assert a == b
    assert len(a) > 0


def test_redact_pii_planted(spark):
    from rasusa_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@example.co.uk or call +1 (555) 123-4567 now"),
         (2, "no pii here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].n_emails == 1 and got[1].n_phones == 1
    assert "[EMAIL]" in got[1].redacted and "[PHONE]" in got[1].redacted
    assert "example.co.uk" not in got[1].redacted
    assert "555" not in got[1].redacted
    assert got[2].n_emails == 0 and got[2].n_phones == 0
    assert got[2].redacted == "no pii here"


def test_ngram_contamination_planted(spark):
    from rasusa_spark.operators.dedup import ngram_contamination

    probes = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox jumps high"),   # shares 3 trigrams
            (2, "completely unrelated sentence with words"),
            (3, "quick brown fox appears once more"),       # shares 1 trigram
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.shared_shingles
           for r in ngram_contamination(docs, probes, n=3, min_shared=2).collect()}
    assert got == {1: 3}
    got1 = {r.doc_id: r.shared_shingles
            for r in ngram_contamination(docs, probes, n=3, min_shared=1).collect()}
    assert got1 == {1: 3, 3: 1}


def test_oph_minhash_signatures_dense_and_clone_consistent(spark, docs):
    """One-permutation signatures must have NO null slots (densification
    fills empty bins) and byte-identical docs must get byte-identical
    signatures."""
    from rasusa_spark.operators.dedup import minhash_signatures_oph

    # tiny docs (few shingles << 64 bins) force empty bins → exercises
    # the rotation fill
    tiny = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "one two three")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.signature for r in minhash_signatures_oph(tiny).collect()}
    assert all(v is not None for sig in rows.values() for v in sig)
    assert all(len(sig) == 64 for sig in rows.values())
    assert rows[1] == rows[2]  # identical text → identical signature
    assert rows[1] != rows[3]


def test_oph_minhash_lsh_finds_clones(spark, docs):
    """OPH-built LSH must find planted exact clones, same contract as the
    classic builder."""
    doubled = docs.limit(40).union(
        docs.limit(40).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    pairs = minhash_lsh_pairs(doubled, threshold=0.9, one_perm=True).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.doc_id for r in docs.limit(40).select("doc_id").collect()]
    hit = sum((i, i + 100000) in found for i in ids)
    assert hit >= 0.9 * len(ids)


def test_connected_components_known_graphs(spark):
    from rasusa_spark.operators.graph import connected_components

    # chain a-b-c-d (diameter 3, exercises pointer doubling), clique {x,y,z},
    # isolated pair {p,q}
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"),
         ("x", "y"), ("y", "z"), ("x", "z"),
         ("q", "p")],
        "id_a string, id_b string",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x", "z": "x", "p": "p", "q": "p"}


def test_connected_components_empty_and_layout_invariant(spark):
    from rasusa_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "id_a string, id_b string")
    assert connected_components(empty).count() == 0
    # long chain 0-1-...-19: deep graph converges via shortcutting and the
    # labels must not depend on partition layout
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    for parts in (1, 7):
        got = {
            r.node: r.component
            for r in connected_components(chain.repartition(parts)).collect()
        }
        assert got == {i: 0 for i in range(20)}


def test_connected_components_matches_union_find(spark):
    """Random graphs vs a driver-side union-find oracle — one seeded graph
    per shape (sparse forest, dense-ish, with self-loops)."""
    import random

    from rasusa_spark.operators.graph import connected_components

    def union_find(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # canonical label = min node id in component
        comp = {}
        for x in range(n_nodes):
            comp.setdefault(find(x), []).append(x)
        return {x: min(members) for members in comp.values() for x in members}

    rng = random.Random(7)
    for n_nodes, n_edges in [(30, 12), (40, 60), (25, 25)]:
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
        ]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.component for r in connected_components(df).collect()}
        want = union_find(n_nodes, edges)
        touched = {u for e in edges for u in e}
        assert got == {x: want[x] for x in touched}


def test_dedup_clusters_transitive_closure(spark):
    """A~B and B~C must collapse to ONE cluster keeping exactly one doc —
    the over-deletion trap pairwise dedup alone cannot see."""
    from rasusa_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(d,) for d in "abcdef"], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("e", "d")], "id_a string, id_b string"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    n_kept = len({v for v in got.values()})
    assert n_kept == 3  # {a,b,c} -> 1, {d,e} -> 1, {f} -> 1


def test_prepare_training_data_end_to_end(spark):
    """Composed prep pipeline: every junk category planted once, each must
    be dropped by its stage; clean docs must survive untouched."""
    from rasusa_spark.plans.prepare import prepare_training_data

    clean = [
        (1, "the quick brown fox jumps over the lazy dog in the field", "web"),
        (2, "a gentle rain fell on the quiet town as evening came around", "web"),
        (3, "it was the best of times and it was the worst of times there", "books"),
    ]
    junk = [
        # exact duplicate of doc 1 (higher id -> dropped by stage 1)
        (11, clean[0][1], "web"),
        # repetition: one bigram dominates -> dropped by stage 3
        (12, "spam ham " * 15, "web"),
        # contaminated: contains the probe's trigrams -> dropped by stage 4
        (13, "students asked about the secret benchmark answer key verbatim today", "web"),
        # near-duplicate of doc 2 (one word changed) -> clustered, dropped by stage 5
        (14, "a gentle rain fell on the quiet town as evening came along", "web"),
    ]
    docs = spark.createDataFrame(
        [(i, t.strip(), s, len(t.split())) for i, t, s in clean + junk],
        "doc_id long, text string, source string, n_tok int",
    )
    probes = spark.createDataFrame(
        [(999, "the secret benchmark answer key verbatim")],
        "doc_id long, text string",
    )
    out = prepare_training_data(
        docs,
        seed=42,
        quality_min_score=0.2,
        max_top_2gram_frac=0.5,
        probes=probes,
        contamination_min_shared=2,
        jaccard_threshold=0.5,
    )
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 2, 3]
    # with a budget: per-source token caps still hold on the clean set
    capped = prepare_training_data(
        docs, seed=42, probes=probes, jaccard_threshold=0.5, budget_tokens=12
    )
    rows = capped.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
    for r in rows:
        assert r.s <= 12 + 12  # budget crossed by less than one doc


def test_minhash_lsh_finds_clones(spark, docs):
    doubled = docs.limit(50).union(
        docs.limit(50).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    pairs = minhash_lsh_pairs(doubled, threshold=0.9).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.doc_id for r in docs.limit(50).select("doc_id").collect()]
    hit = sum((i, i + 100000) in found for i in ids)
    assert hit >= 0.9 * len(ids)  # LSH recall on exact clones ≈ 1


def test_vocab_stats_counts_and_tiebreak(spark):
    from rasusa_spark.operators.text import vocab_stats

    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb aa cc!")], "doc_id long, text string"
    )
    rows = vocab_stats(df, k=10).collect()
    assert [(r.token, r.n) for r in rows] == [
        ("aa", 3), ("bb", 2), ("!", 1), ("cc", 1)
    ]


def test_gopher_quality_filter_rules(spark):
    from rasusa_spark.operators.text import gopher_quality_filter

    good = "the quick brown fox jumps over " * 12 + "that have with lazy dogs"
    rows = [
        (1, good),                                   # passes every rule
        (2, "too short to have the of and that"),    # < min_words
        (3, ("#" * 30 + " ") * 4 + good),            # symbol ratio blown
        (4, "\n".join("- " + good for _ in range(4))),  # all bullet lines
        (5, " ".join("zz" for _ in range(80))),      # mean word len + stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality_filter(df, min_words=30).collect()}
    assert out[1].kept
    assert not out[2].kept and out[2].n_words < 30
    assert not out[3].kept and out[3].symbol_ratio > 0.1
    assert not out[4].kept and out[4].bullet_frac == 1.0
    assert not out[5].kept and out[5].stop_hits < 2


def test_line_dedup_first_occurrence_survives(spark):
    from rasusa_spark.operators.dedup import line_dedup

    rows = [
        (1, "alpha\nshared line\nbeta"),
        (2, "shared line\ngamma\n\nshared line"),   # both copies struck
        (3, "shared line"),                         # fully deduped -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in line_dedup(df).collect()}
    assert out[1] == "alpha\nshared line\nbeta"     # original order kept
    assert out[2] == "gamma"                        # dup + blank lines gone
    assert 3 not in out


def test_pack_sequences_greedy_boundaries(spark):
    from rasusa_spark.operators.pack import pack_sequences

    rows = [("s", i, n) for i, n in enumerate([4, 4, 4, 9, 12, 1])]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok int")
    out = {r.doc_id: (r.pack_id, r.pack_fill)
           for r in pack_sequences(df, capacity=10).collect()}
    # greedy: [4,4]=8 | [4]=4 | [9]=9 | [12] oversize alone | [1]
    assert out == {0: (0, 4), 1: (0, 8), 2: (1, 4), 3: (2, 9),
                   4: (3, 12), 5: (4, 1)}


def test_pack_sequences_invariants_and_layout_invariance(spark, docs):
    from rasusa_spark.operators.pack import pack_sequences, pack_summary

    sized = docs.select("source", "doc_id", token_count(F.col("text")).alias("n_tok"))
    packed = pack_sequences(sized, capacity=256, group_cols=["source"])
    summ = pack_summary(packed, ["source"]).collect()
    # every pack within capacity unless it is a single oversize doc
    per_pack_docs = {(r.source, r.pack_id): (r.n_docs, r.fill) for r in summ}
    for (src, pid), (ndocs, fill) in per_pack_docs.items():
        assert fill <= 256 or ndocs == 1
    assert packed.count() == sized.count()  # every doc packed exactly once
    # partition layout must not change assignments
    again = pack_sequences(sized.repartition(13), capacity=256, group_cols=["source"])
    assert again.exceptAll(packed).count() == 0


def test_split_assign_deterministic_and_proportional(spark, docs):
    from rasusa_spark.operators.pack import split_assign

    a = split_assign(docs.select("doc_id"), seed=42)
    b = split_assign(docs.select("doc_id").repartition(7), seed=42)
    assert a.exceptAll(b).count() == 0
    counts = {r.split: r.n for r in
              a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert counts.get("train", 0) / total > 0.8
    assert 0 < counts.get("val", 0) / total < 0.15


def test_line_dedup_layout_invariance(spark, docs):
    from rasusa_spark.operators.dedup import line_dedup

    a = line_dedup(docs)
    b = line_dedup(docs.repartition(13))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_line_dedup_matches_python_reference(spark):
    # randomized corpus vs a direct single-threaded reference implementation
    import random

    from rasusa_spark.operators.dedup import line_dedup

    rng = random.Random(7)
    pool = [f"line {i}" for i in range(12)] + ["", "  "]
    rows = [
        (i, "\n".join(rng.choice(pool) for _ in range(rng.randint(0, 8))))
        for i in range(40)
    ]
    seen, want = set(), {}
    for i, text in rows:
        kept = []
        for line in text.split("\n"):
            if line.strip() == "":
                continue
            if line not in seen:
                seen.add(line)
                kept.append(line)
        if kept:
            want[i] = "\n".join(kept)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in line_dedup(df).collect()}
    assert got == want


def test_minhash_verify_exact_matches_exact_join(spark, docs):
    # the production recipe (LSH prune + exact confirm) must return the
    # same pair set and the same exact-jaccard values as the all-pairs
    # exact join at the same threshold (recall of the band join is ~1 at
    # near-dup similarity; verification is exact by construction)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.5, verify_exact=True).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert got == want
    assert len(want) > 0


def test_minhash_prefilter_screen_boilerplate(spark):
    # VERDICT r3 #1: high-recall bandings (rows_per_band <= 2) admit
    # moderate-jaccard boilerplate pairs as candidates with near-certainty;
    # the est_prefilter_margin screen (now auto-on for those bandings)
    # must drop them BEFORE exact verification without losing any true
    # pair. Corpus: 400 docs sharing a template at pairwise j~0.2 (below
    # the 0.5 threshold), plus 5 planted clone pairs at j~0.9.
    template = [f"tpl{i}" for i in range(60)]
    rows = []
    for d in range(400):
        rows.append((d, " ".join(template + [f"u{d}x{i}" for i in range(180)])))
    for c in range(5):
        base = [f"c{c}w{i}" for i in range(200)]
        rows.append((10000 + 2 * c, " ".join(template[:5] + base)))
        rows.append(
            (
                10001 + 2 * c,
                " ".join(
                    template[:5] + base[:-6] + [f"z{c}q{i}" for i in range(6)]
                ),
            )
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    on = sorted(
        map(
            tuple,
            minhash_lsh_pairs(
                docs, threshold=0.5, n_bands=32, verify_exact=True
            ).collect(),  # default: screen auto-on for 32x2
        )
    )
    off = sorted(
        map(
            tuple,
            minhash_lsh_pairs(
                docs,
                threshold=0.5,
                n_bands=32,
                verify_exact=True,
                est_prefilter_margin=None,
            ).collect(),
        )
    )
    assert on == off  # screen never changes the answer on this corpus
    assert len(on) == 5  # exactly the planted clone pairs
    assert {(a, b) for a, b, _ in on} == {
        (10000 + 2 * c, 10001 + 2 * c) for c in range(5)
    }


def test_simhash_clones_zero_hamming(spark, docs):
    doubled = docs.limit(40).union(
        docs.limit(40).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    pairs = simhash_pairs(doubled, max_hamming=2).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    ids = [r.doc_id for r in docs.limit(40).select("doc_id").collect()]
    assert sum(found.get((i, i + 100000)) == 0 for i in ids) >= 0.9 * len(ids)


def test_simhash_banding_exact_recall(spark):
    """Round-1 defect regression: pairs at hamming 4..12 whose differing
    bits are SPREAD so every 16-bit quarter differs must still be found —
    banding into max_hamming+1 blocks guarantees recall by pigeonhole."""
    import itertools

    rows = []
    expected = []
    base = 0x0123456789ABCDEF
    next_id = 0
    for h in range(4, 13):
        # spread h bit flips round-robin over the four 16-bit quarters,
        # staggered by distance so every quarter gets ≥1 flip when h ≥ 4
        flips = [(i % 4) * 16 + (i // 4) + h for i in range(h)]
        sig = base
        for b in flips:
            sig ^= 1 << b
        a_id, b_id = next_id, next_id + 1
        next_id += 2
        # int64 view of the uint64 signatures
        def s64(v):
            return v - (1 << 64) if v >= (1 << 63) else v
        rows += [(a_id, s64(base)), (b_id, s64(sig))]
        expected.append((a_id, b_id, h))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    from rasusa_spark.operators.dedup import simhash_pairs_from_signatures

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_signatures(sigs, max_hamming=12).collect()
    }
    for a, b, h in expected:
        assert got.get((a, b)) == h, f"pair at hamming {h} missed"
    # and n_chunks below the pigeonhole bound is rejected, never silent
    with pytest.raises(ValueError, match="recall"):
        simhash_pairs_from_signatures(sigs, max_hamming=12, n_chunks=4)
    # exhaustive ground truth: every pair within radius is returned
    all_rows = [(r[0], r[1]) for r in rows]
    truth = {
        (i, j)
        for (i, si), (j, sj) in itertools.combinations(all_rows, 2)
        if bin((si ^ sj) & ((1 << 64) - 1)).count("1") <= 12
    }
    full = {
        (r.id_a, r.id_b)
        for r in simhash_pairs_from_signatures(sigs, max_hamming=12).collect()
    }
    assert full == truth


def test_simhash_bucket_cap_dense_adversarial(spark):
    """Adversarial dense-bucket guard (VERDICT r2 #7): 10⁴ docs with an
    IDENTICAL signature must not generate the Θ(n²) clique — with
    ``bucket_cap`` they collapse to n−1 star edges around the min-id
    representative, and an outside doc within the radius still reaches the
    group through the representative (closure-equivalence)."""
    from rasusa_spark.operators.dedup import simhash_pairs_from_signatures

    n = 10_000
    dense_sig = 0x0123456789ABCDEF  # top bit clear — already a valid int64
    rows = [(i, dense_sig) for i in range(n)]
    # an outside doc at hamming 2 from the dense signature
    near = dense_sig ^ (1 << 3) ^ (1 << 40)
    rows.append((n + 5, near))
    # and a far doc that must NOT pair with anything
    rows.append((n + 6, dense_sig ^ 0x00FF00FF00FF00FF))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = simhash_pairs_from_signatures(
        sigs, max_hamming=3, bucket_cap=100
    ).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in got}
    # candidate/output bound: n-1 stars + 1 cross pair — NOT C(n,2) ≈ 5e7
    assert len(pairs) == n, f"expected {n} pairs, got {len(pairs)}"
    stars = [(a, b) for (a, b), h in pairs.items() if h == 0]
    assert len(stars) == n - 1 and all(a == 0 for a, _ in stars)
    assert pairs.get((0, n + 5)) == 2  # rep carries the cross pair
    assert not any(b == n + 6 or a == n + 6 for a, b in pairs)


def test_simhash_bucket_cap_subband_block_collision(spark):
    """Second-level banding: many docs sharing ONE 16-bit block value (but
    otherwise far apart) blow up a (chunk,val) bucket; with ``bucket_cap``
    they are re-banded on the rotated signature, and the one planted true
    pair must still be found (pigeonhole recall through the sub-band)."""
    import random

    from rasusa_spark.operators.dedup import simhash_pairs_from_signatures

    rng = random.Random(11)
    rows = []
    for i in range(500):
        # block 0 (low 16 bits) pinned to 0xBEEF; high 48 bits random —
        # pairwise hamming of random 48 bits ≈ 24, far beyond radius 3
        sig = 0xBEEF | (rng.getrandbits(48) << 16)
        rows.append((i, sig - (1 << 64) if sig >= (1 << 63) else sig))
    base = 0xBEEF | (0x123456789ABC << 16)
    mate = base ^ (1 << 20) ^ (1 << 45) ^ (1 << 63)  # hamming 3, all outside block 0
    rows.append((9001, base - (1 << 64) if base >= (1 << 63) else base))
    rows.append((9002, mate - (1 << 64) if mate >= (1 << 63) else mate))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    capped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_signatures(
            sigs, max_hamming=3, bucket_cap=50
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_signatures(sigs, max_hamming=3).collect()
    }
    assert capped.get((9001, 9002)) == 3
    assert capped == uncapped  # no distinct-signature dupes ⇒ identical output


def test_simhash_bucket_cap_spread_bits_recall_unchanged(spark):
    """The existing spread-bits recall property holds verbatim with the
    bucket guard enabled (buckets are tiny here — the guard must be a
    no-op on output)."""
    from rasusa_spark.operators.dedup import simhash_pairs_from_signatures

    rows = []
    base = 0x0123456789ABCDEF

    def s64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    next_id = 0
    expected = []
    for h in range(4, 13):
        # distinct base per level: a shared base would form an identical-
        # signature group that the cap CORRECTLY collapses to star edges
        base_h = base ^ (h << 56)
        flips = [(i % 4) * 16 + (i // 4) + h for i in range(h)]
        sig = base_h
        for b in flips:
            sig ^= 1 << b
        rows += [(next_id, s64(base_h)), (next_id + 1, s64(sig))]
        expected.append((next_id, next_id + 1, h))
        next_id += 2
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_signatures(
            sigs, max_hamming=12, bucket_cap=3
        ).collect()
    }
    for a, b, h in expected:
        assert got.get((a, b)) == h, f"pair at hamming {h} missed with bucket_cap"


def test_simhash_portable_hash_family(spark, docs):
    """The portable (md5-derived) word-hash family produces valid signatures:
    clone pairs land at hamming 0 and the operator output is identical
    across partition layouts (the family feeds the driver's DuckDB oracle)."""
    doubled = docs.limit(30).union(
        docs.limit(30).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(doubled, max_hamming=2, portable=True).collect()
    }
    ids = [r.doc_id for r in docs.limit(30).select("doc_id").collect()]
    assert sum(pairs.get((i, i + 100000)) == 0 for i in ids) >= 0.9 * len(ids)
    relaid = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            doubled.repartition(7), max_hamming=2, portable=True
        ).collect()
    }
    assert pairs == relaid


def test_ivf_layout_invariance(spark, embs):
    """IVF centroids (and therefore ivf_topk) are a pure function of
    (seed, ids) — repartitioning the table must not change the result
    (VERDICT r2 'What's wrong' #3: the old limit()-based sample was
    partition-layout-dependent)."""
    from rasusa_spark.operators.similarity import ivf_build_centroids, ivf_topk

    q = [1.0] * 64
    c1 = ivf_build_centroids(embs, n_cells=8, sample=300, seed=5)
    c2 = ivf_build_centroids(embs.repartition(13), n_cells=8, sample=300, seed=5)
    assert np.allclose(c1, c2)
    r1 = [(r.vec_id, r.cosine) for r in ivf_topk(embs, q, c1, k=5, nprobe=3).collect()]
    r2 = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(embs.repartition(13), q, c2, k=5, nprobe=3).collect()
    ]
    assert r1 == r2


def test_ivf_partition_pruned_store(spark, embs, tmp_path):
    """The 'at 100 TB this becomes partition pruning' claim made real
    (VERDICT r2 next #6): embeddings written partitioned by ivf_cell, the
    probe filter shows up as PartitionFilters in the scan (non-probed cells
    are never read), and the pruned result equals the in-memory path."""
    import contextlib
    import io

    from rasusa_spark.operators.similarity import (
        ivf_build_centroids,
        ivf_topk,
        ivf_topk_pruned,
        write_ivf_partitioned,
    )

    cents = ivf_build_centroids(embs, n_cells=8, sample=300, seed=5)
    loc = str(tmp_path / "ivf_store")
    write_ivf_partitioned(embs, loc, cents)
    q = [1.0] * 64
    pruned = ivf_topk_pruned(spark, loc, q, cents, k=5, nprobe=3)
    base = ivf_topk(embs, q, cents, k=5, nprobe=3)
    assert [(r.vec_id, r.cosine) for r in pruned.collect()] == [
        (r.vec_id, r.cosine) for r in base.collect()
    ]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    # the partition filter must not be empty (pushed, not post-scan)
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "ivf_cell" in m.group(1)


def test_lsh_partition_pruned_store(spark, embs, tmp_path):
    import contextlib
    import io

    from rasusa_spark.operators.similarity import (
        lsh_topk_pruned,
        write_lsh_partitioned,
    )

    loc = str(tmp_path / "lsh_store")
    write_lsh_partitioned(embs, loc, n_bits=6)
    q = [1.0] * 64
    pruned = lsh_topk_pruned(spark, loc, q, k=10, n_bits=6)
    base = lsh_bucket_topk(embs, q, k=10, n_bits=6)
    assert [(r.vec_id, r.cosine) for r in pruned.collect()] == [
        (r.vec_id, r.cosine) for r in base.collect()
    ]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "lsh_bucket" in plan


def test_connected_components_large_chain_star(spark):
    """Pointer-doubling depth evidence beyond shallow dedup graphs
    (VERDICT r2 next #10): a ~10⁶-edge chain+star mix. The chain has
    diameter 16384; plain propagation would need ~16k rounds — pointer
    doubling must converge in O(log diameter)."""
    import math

    from rasusa_spark.operators.graph import connected_components

    chain_n = 16_384
    star_n = 1_000_000
    chain = spark.range(chain_n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    center = 10_000_000
    star = spark.range(star_n).select(
        F.lit(center).alias("id_a"), (F.col("id") + center + 1).alias("id_b")
    )
    pairs = chain.union(star)
    stats: dict = {}
    comp = connected_components(pairs, max_iter=40, stats=stats)
    agg = comp.groupBy("component").count().collect()
    sizes = {r.component: r["count"] for r in agg}
    assert sizes == {0: chain_n, center: star_n + 1}
    bound = 2 * math.ceil(math.log2(chain_n)) + 4
    assert stats["rounds"] <= bound, f"{stats['rounds']} rounds > bound {bound}"


def test_cosine_topk_matches_numpy(spark, embs):
    rows = embs.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    q = mat[0]
    sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    expect = [int(ids[i]) for i in np.argsort(-sims)[:5]]
    got = [r.vec_id for r in cosine_topk(embs, list(q), k=5).collect()]
    assert got == expect


def test_knn_join_topk(spark, embs):
    rows = embs.limit(3).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in rows]
    out = knn_join_topk(embs, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, items in by_q.items():
        assert len(items) == 3
        best = max(items, key=lambda r: r.cosine)
        assert best.vec_id == qid and best.cosine > 0.999  # self is nearest


def test_lsh_bucket_topk_overlaps_exact(spark, embs):
    row = embs.limit(1).collect()[0]
    q = list(row.embedding)
    exact = {r.vec_id for r in cosine_topk(embs, q, k=10).collect()}
    approx = {r.vec_id for r in lsh_bucket_topk(embs, q, k=10, n_bits=6).collect()}
    # the query vector itself must be found, plus better-than-chance overlap
    # (these synthetic embeddings are near-isotropic, so distant "neighbors"
    # are only weakly localized by hyperplane buckets)
    assert row.vec_id in approx
    assert len(exact & approx) >= 2


def test_lsh_multi_table_recall(spark, embs):
    """The E2LSH multi-table recall lever: independent tables' miss
    probabilities multiply. These near-isotropic fixtures are a hard case
    (top-10 cosines ~0.3, per-bit agreement ~0.6) — single-table recall is
    poor by design; L=4 tables with hamming-2 probes must recover most of
    the exact top-10 and dominate the single-table result (measured
    2/10 → 8/10 → 10/10 at L=1/4/6)."""
    q = [1.0] * 64
    exact = {r.vec_id for r in cosine_topk(embs, q, k=10).collect()}

    def recall(L, h):
        a = {
            r.vec_id
            for r in lsh_bucket_topk(
                embs, q, k=10, n_bits=6, probe_hamming=h, n_tables=L
            ).collect()
        }
        return len(exact & a)

    r1, r4 = recall(1, 1), recall(4, 2)
    assert r4 >= 7, f"L=4 h=2 recall {r4}/10"
    assert r4 >= r1


def test_ivf_topk(spark, embs):
    from rasusa_spark.operators.similarity import ivf_build_centroids, ivf_topk

    cents = ivf_build_centroids(embs, n_cells=8, sample=500)
    assert cents.shape == (8, 64)
    row = embs.limit(1).collect()[0]
    got = ivf_topk(embs, list(row.embedding), cents, k=5, nprobe=3).collect()
    assert got[0].vec_id == row.vec_id and got[0].cosine > 0.999  # finds self
    exact = {r.vec_id for r in cosine_topk(embs, list(row.embedding), k=5).collect()}
    assert len(exact & {r.vec_id for r in got}) >= 2  # approximate overlap


def test_semantic_dedup_mirrors_numpy_reference(spark, embs):
    """semantic_dedup (SemDeDup, Abbas et al. 2023) against an independent
    driver-side mirror: same md5-sample k-means codebook, normalized-argmax
    cell assignment, within-cell rounded cosine >= t edges, union-find
    closure with min-id canonical labels. The FULL 500-row clustering must
    match, and it must be partition-layout invariant."""
    import hashlib

    from rasusa_spark.operators.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )

    t, n_cells, sample, seed = 0.4, 4, 128, 7
    rows = embs.select("vec_id", "embedding").collect()

    def h64(i: int) -> int:
        d = hashlib.md5(f"{i}:{seed}".encode()).hexdigest()
        h = (int(d[:8], 16) << 32) | int(d[8:16], 16)
        return h - (1 << 64) if h >= (1 << 63) else h

    srt = sorted(rows, key=lambda r: (h64(r.vec_id), r.vec_id))
    cents = kmeans_centroids(
        np.array([r.embedding for r in srt[:sample]], dtype=np.float64),
        n_cells=n_cells, iters=8, seed=seed,
    )
    ids = [r.vec_id for r in rows]
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    nm = mat / np.maximum(norms[:, None], 1e-12)
    cell = (nm @ cents.T).argmax(axis=1)

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_cell: dict[int, list[int]] = {}
    for idx, i in enumerate(ids):
        by_cell.setdefault(int(cell[idx]), []).append(idx)
    for members in by_cell.values():
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                cos = float(mat[a] @ mat[b]) / (norms[a] * norms[b])
                if round(cos, 6) >= t:
                    ra, rb = find(ids[a]), find(ids[b])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in ids}
    assert any(v != k for k, v in expected.items())  # fixture has clusters
    assert any(v == k for k, v in expected.items())  # and singletons

    got = {
        r.vec_id: r.cluster_id
        for r in semantic_dedup(
            embs, threshold=t, n_cells=n_cells, sample=sample, seed=seed
        ).collect()
    }
    assert got == expected

    relaid = {
        r.vec_id: r.cluster_id
        for r in semantic_dedup(
            embs.repartition(13), threshold=t, n_cells=n_cells,
            sample=sample, seed=seed,
        ).collect()
    }
    assert relaid == expected


def test_pq_topk_mirrors_numpy_reference(spark, embs):
    """PQ ANN (Jégou et al. 2011) against an independent driver-side
    mirror of the full pipeline: md5-sample per-block codebooks, argmax
    codes, left-associated ADC LUT sum, round-6 (adc, vec_id) shortlist,
    exact-cosine re-rank — plus layout invariance and recall sanity vs
    the exact top-k."""
    import hashlib

    from rasusa_spark.operators.similarity import (
        kmeans_centroids,
        pq_topk,
        pq_train_codebooks,
    )

    n_sub, k_codes, sample, seed, shortlist, k = 8, 16, 128, 7, 50, 10
    rows = embs.select("vec_id", "embedding").collect()

    def h64(i: int) -> int:
        dg = hashlib.md5(f"{i}:{seed}".encode()).hexdigest()
        h = (int(dg[:8], 16) << 32) | int(dg[8:16], 16)
        return h - (1 << 64) if h >= (1 << 63) else h

    srt = sorted(rows, key=lambda r: (h64(r.vec_id), r.vec_id))
    smat = np.array([r.embedding for r in srt[:sample]], dtype=np.float64)
    d = smat.shape[1] // n_sub
    books = np.stack(
        [
            kmeans_centroids(smat[:, m * d : (m + 1) * d], k_codes, 8, seed + m)
            for m in range(n_sub)
        ]
    )
    q = np.ones(64, dtype=np.float64)
    luts = [books[m] @ q[m * d : (m + 1) * d] for m in range(n_sub)]

    ids = [r.vec_id for r in rows]
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    scored = []
    for i, vid in enumerate(ids):
        adc = 0.0
        for m in range(n_sub):
            code = int((mat[i, m * d : (m + 1) * d] @ books[m].T).argmax())
            adc = adc + float(luts[m][code])  # same left-assoc chain
        scored.append((vid, round(adc, 6)))
    short = sorted(scored, key=lambda t: (-t[1], t[0]))[:shortlist]
    short_ids = {vid for vid, _ in short}
    by_id = {vid: i for i, vid in enumerate(ids)}
    rerank = sorted(
        (
            (
                vid,
                round(
                    float(mat[by_id[vid]] @ q)
                    / (np.linalg.norm(mat[by_id[vid]]) * np.linalg.norm(q)),
                    6,
                ),
            )
            for vid in short_ids
        ),
        key=lambda t: (-t[1], t[0]),
    )[:k]

    spark_books = pq_train_codebooks(
        embs, n_sub=n_sub, k=k_codes, sample=sample, seed=seed
    )
    assert np.allclose(spark_books, books)
    got = [
        (r.vec_id, r.cosine)
        for r in pq_topk(
            embs, [1.0] * 64, spark_books, k=k, shortlist=shortlist
        ).collect()
    ]
    assert got == rerank

    relaid = [
        (r.vec_id, r.cosine)
        for r in pq_topk(
            embs.repartition(13), [1.0] * 64, spark_books, k=k,
            shortlist=shortlist,
        ).collect()
    ]
    assert relaid == rerank

    exact = {r.vec_id for r in cosine_topk(embs, [1.0] * 64, k=k).collect()}
    assert len(exact & {vid for vid, _ in got}) >= 3  # recall sanity


def test_pq_stored_codes_identity_and_pruned_scan(spark, embs, tmp_path):
    """The stored-codes PQ path equals the in-memory one on the same
    codebooks, and its ADC shortlist plan never reads the vector column
    (ReadSchema of the codes scan = id + pq_codes only — the ~32× I/O
    claim made checkable)."""
    import contextlib
    import io

    from rasusa_spark.operators.similarity import (
        pq_topk,
        pq_topk_stored,
        pq_train_codebooks,
        write_pq_encoded,
    )

    books = pq_train_codebooks(embs, n_sub=8, k=16, sample=128, seed=7)
    loc = str(tmp_path / "pq_codes")
    write_pq_encoded(embs, loc, books)
    q = [1.0] * 64
    stored = pq_topk_stored(spark, loc, embs, q, books, k=10, shortlist=50)
    base = pq_topk(embs, q, books, k=10, shortlist=50)
    assert [(r.vec_id, r.cosine) for r in stored.collect()] == [
        (r.vec_id, r.cosine) for r in base.collect()
    ]

    coded = spark.read.parquet(loc)
    adc_scan = coded.select("vec_id", "pq_codes")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adc_scan.explain("formatted")
    # the codes table physically contains no embedding column at all
    assert "embedding" not in coded.columns
    assert "embedding" not in buf.getvalue()


def test_ivfadc_composes_pruning_and_codes(spark, embs, tmp_path):
    """IVFADC = IVF partition pruning × PQ codes: the cell-partitioned
    codes store search equals the in-memory PQ search restricted to the
    probed cells, the scan carries a non-empty PartitionFilters on
    ivf_cell, and the codes table holds no vector column."""
    import contextlib
    import io
    import re

    from rasusa_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivfadc_topk,
        pq_topk,
        pq_train_codebooks,
        write_ivfadc,
    )

    cents = ivf_build_centroids(embs, n_cells=8, sample=300, seed=5)
    books = pq_train_codebooks(embs, n_sub=8, k=16, sample=128, seed=7)
    loc = str(tmp_path / "ivfadc")
    write_ivfadc(embs, loc, cents, books)
    q = [1.0] * 64

    got = ivfadc_topk(
        spark, loc, embs, q, cents, books, k=10, shortlist=30, nprobe=3
    )
    qn = np.ones(64) / 8.0
    probe = [int(c) for c in (cents @ qn).argsort()[::-1][:3]]
    in_cells = ivf_assign(embs, cents).where(F.col("ivf_cell").isin(probe))
    want = pq_topk(in_cells, q, books, k=10, shortlist=30)
    assert [(r.vec_id, r.cosine) for r in got.collect()] == [
        (r.vec_id, r.cosine) for r in want.collect()
    ]

    coded = spark.read.parquet(loc).where(F.col("ivf_cell").isin(probe))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        coded.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "ivf_cell" in m.group(1)
    assert "embedding" not in spark.read.parquet(loc).columns


def test_dsir_scores_match_python_mirror(spark, docs):
    """DSIR (Xie et al. 2023) against a pure-Python mirror: same md5
    bucket hashing, add-1 smoothed log-ratio weights quantized half-away
    to micro-nats, exact int64 dot product — full 500-doc score equality
    plus layout invariance."""
    import hashlib
    import math

    from rasusa_spark.operators.dsir import dsir_scores

    B = 10_000
    rows = docs.select("doc_id", "text", "lang").collect()

    def feats(text):
        ws = [w for w in text.strip().lower().split() if w]
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B

    tc: dict[int, int] = {}
    rc: dict[int, int] = {}
    per_doc: dict[int, dict[int, int]] = {}
    for r in rows:
        d = per_doc.setdefault(r.doc_id, {})
        for f in feats(r.text):
            bk = bucket(f)
            d[bk] = d.get(bk, 0) + 1
            rc[bk] = rc.get(bk, 0) + 1
            if r.lang == "en":
                tc[bk] = tc.get(bk, 0) + 1
    t_tot, r_tot = sum(tc.values()), sum(rc.values())

    def half_away(x):
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

    w = {
        bk: half_away(
            (
                math.log((tc.get(bk, 0) + 1) / float(t_tot + B))
                - math.log((rc.get(bk, 0) + 1) / float(r_tot + B))
            )
            * 1_000_000.0
        )
        for bk in rc
    }
    expected = {
        did: sum(n * w[bk] for bk, n in d.items()) for did, d in per_doc.items()
    }

    got = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(
            docs, docs.where(F.col("lang") == "en"), n_buckets=B
        ).collect()
    }
    assert got == expected
    # the synthetic lang labels are noise (CLAUDE.md), so no directional
    # claim — just require a non-degenerate spread
    assert len(set(got.values())) > 10

    relaid = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(
            docs.repartition(7),
            docs.where(F.col("lang") == "en").repartition(3),
            n_buckets=B,
        ).collect()
    }
    assert relaid == expected

    # r7 single-explosion predicate form: identical scores to the
    # separate-target form (same target multiset, same integer algebra)
    pred = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(
            docs, target_pred=F.col("lang") == "en", n_buckets=B
        ).collect()
    }
    assert pred == expected


def test_dsir_kernel_buckets_match_jvm(spark, docs):
    """r7: the Arrow feature-bucket kernel (_bucketed_occurrences) must
    produce the EXACT row multiset of the JVM explode+md5+conv
    formulation — per-(doc, flag, bucket) counts equal on the corpus AND
    on unicode/whitespace edge docs (final sigma, Turkish İ, titlecase
    ǅ, NBSP, tabs, null text/lang, empty text)."""
    from rasusa_spark.operators.dsir import (
        _bucket_col,
        _bucketed_occurrences,
        _exploded_features,
    )

    edge = spark.createDataFrame(
        [
            (900001, "İstanbul I STRASSE ß", "en"),
            (900002, "ΣΟΦΟΣ ΑΣ mixΣ", None),
            (900003, "ǅungla ǄX ABCẞ", "de"),
            (900004, "x y keeps nbsp", "en"),
            (900005, " lead\ttab  and   runs ", "fr"),
            (900006, "", "en"),
            (900007, None, "en"),
            (900008, "solo", None),
        ],
        "doc_id long, text string, lang string",
    )
    both = docs.select("doc_id", "text", "lang").union(edge)
    flagged = both.withColumn("_is_t", (F.col("lang") == "en").cast("boolean"))

    jvm = _exploded_features(flagged, "text", "doc_id", "_is_t").select(
        "doc_id", "_is_t", _bucket_col(F.col("_f"), 10_000)
    )
    ker = _bucketed_occurrences(flagged, 10_000, "text", "doc_id", "_is_t")

    def counts(d):
        return {
            (r.doc_id, r._is_t, r.bucket): r.n
            for r in d.groupBy("doc_id", "_is_t", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    ca, cb = counts(jvm), counts(ker)
    assert ca == cb
    assert len(ca) > 1000  # non-degenerate corpus coverage


def test_embedding_near_duplicates_self(spark, embs):
    doubled = embs.limit(40).union(
        embs.limit(40).withColumn("vec_id", F.col("vec_id") + 100000)
    )
    pairs = embedding_near_duplicates(doubled, threshold=0.999, n_bits=8).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.vec_id for r in embs.limit(40).collect()]
    assert sum((i, i + 100000) in found for i in ids) == len(ids)


def test_token_count_and_quality(spark, docs):
    out = quality_features(docs.withColumn("tc", token_count(F.col("text"))))
    rows = out.select("text", "tc", "q_n_tokens", "q_score").collect()
    for r in rows[:50]:
        assert r.tc == len(r.text.split())
        assert r.tc == r.q_n_tokens
        assert 0 <= r.q_score <= 1.001


def test_lang_id_heuristic(spark):
    # NOTE: the testdata's `lang` labels are synthetic (every doc is the same
    # English word soup), so we validate the heuristic on real-language text.
    samples = [
        ("the cat and the dog ran to the house of the king", "en"),
        ("der Hund und die Katze gingen durch die schöne Stadt", "de"),
        ("le chat de la maison est sur la table de la cuisine", "fr"),
        ("这是一个中文句子，用来测试语言识别功能。", "zh"),
        ("", "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in samples], "text string")
    preds = [r.pred for r in df.withColumn("pred", lang_id_udf()(F.col("text"))).collect()]
    assert preds == [lang for _, lang in samples]


def test_rolling_fingerprint(spark, docs):
    from rasusa_spark.operators.text import rolling_fingerprint_udf

    fp = rolling_fingerprint_udf()
    sub = docs.limit(30).select("doc_id", fp(F.col("text")).alias("fp"))
    rows = sub.collect()
    assert all(len(r.fp) == 32 for r in rows)
    # deterministic across invocations
    again = {r.doc_id: r.fp for r in sub.collect()}
    assert all(again[r.doc_id] == r.fp for r in rows)
    # robust to small edits: appending one char far from the kept windows
    # usually preserves the winnowed minima — check on a long doc
    long_doc = max(rows, key=lambda r: r.doc_id)
    base = docs.where(F.col("doc_id") == long_doc.doc_id).collect()[0].text
    df2 = spark.createDataFrame([(base,), (base + " x",)], "text string")
    fps = [r.f for r in df2.select(fp(F.col("text")).alias("f")).collect()]
    assert fps[0] == long_doc.fp


def test_multimodal_plumbing(spark):
    media = synth_media_df(spark, 64)
    feats = extract_features(media, deterministic_fake=True)
    rows = feats.collect()
    assert len(rows) == 64
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same input → same features
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)
    stats = {r.kind: r for r in media_stats(media).collect()}
    assert set(stats) == {"image", "audio", "video"}
    assert stats["audio"].avg_width is None


def test_multimodal_stub_raises_without_fake(spark):
    media = synth_media_df(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_features(media, deterministic_fake=False).collect()


def test_cache_scope_releases_registered_frames(spark, docs):
    """cache_scope() (VERDICT r4 Next #9): frames persisted by the dedup
    path inside the scope are unpersisted on exit — including on error —
    and pre-existing registrations are untouched (nesting)."""
    from rasusa_spark.caches import cache_scope
    from rasusa_spark.operators import dedup as dmod

    outer = docs.limit(5).cache()
    dmod._DEDUP_CACHES.append(outer)
    n_before = len(dmod._DEDUP_CACHES)
    with cache_scope():
        pairs = minhash_lsh_pairs(
            docs, threshold=0.9, verify_exact=True
        )
        pairs.count()
        assert len(dmod._DEDUP_CACHES) > n_before  # sigs + candidates
        inner = [df for df in dmod._DEDUP_CACHES[n_before:]]
        assert all(df.storageLevel.useMemory for df in inner)
    assert len(dmod._DEDUP_CACHES) == n_before
    assert not any(df.storageLevel.useMemory for df in inner)
    # the pre-existing registration survived the scope
    assert outer.storageLevel.useMemory
    dmod._DEDUP_CACHES.pop().unpersist()

    # releases on error too
    with pytest.raises(RuntimeError, match="boom"):
        with cache_scope():
            minhash_lsh_pairs(docs, threshold=0.9, verify_exact=True).count()
            raise RuntimeError("boom")
    assert len(dmod._DEDUP_CACHES) == n_before - 1
