"""Bit-exact numpy reimplementation of Spark's XXH64 expression family
(org.apache.spark.sql.catalyst.expressions.XXH64 — the engine behind
``F.xxhash64``), for Arrow kernels that need the SAME hash values the JVM
projections produce (r7 continuation):

- ``hash_long_vec`` / ``hash_int_vec``: the (long, seed) and
  (int-literal, seed) chains — already property-tested against Spark over
  random longs by the minhash signature kernel
  (tests/test_pipeline_ops.py::test_numpy_xxh64_matches_spark);
- ``xxh64_strings_vec``: XXH64 over UTF-8 byte strings with per-row
  seeds — Spark hashes a string column as ``hashUTF8String(bytes, seed)``
  and chains multi-argument ``xxhash64(c1, c2, …)`` left-to-right from
  seed 42, so an n-ary gram hash is ``n`` chained calls
  (property-tested: tests/test_pipeline_ops.py::
  test_numpy_xxh64_string_matches_spark — lengths 0-200, unicode,
  chained seeds);
- ``window_gram_hashes``: every stride-1 length-n word-window gram hash
  of a ListArray<string> words column, vectorized (n × len chained
  passes over the flattened byte buffer), bit-equal to the JVM
  ``transform(sequence(...), i -> xxhash64(w[i], …, w[i+n-1]))``;
- ``distinct_per_doc``: vectorized per-doc unique of (doc, value) pairs.

Strings of ≥ 32 bytes take the scalar reference path (``xxh64_bytes_py``,
full spec incl. the 32-byte stripes) — rare for whitespace words, exact
for any length. All functions expect ``np.seterr(over="ignore")`` scope
(uint64 wraparound is the algorithm).
"""

from __future__ import annotations

import sys

import numpy as np

# the kernels read 8-byte words through raw byte-buffer views, which match
# Spark's little-endian XXH64 reads only on a little-endian host
if sys.byteorder != "little":
    raise ImportError("npxxh needs a little-endian host; Spark XXH64 reads "
                      f"words little-endian, this host is {sys.byteorder}")

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)
_U = np.uint64


def rotl(x, r):
    r = _U(r)
    return (x << r) | (x >> (_U(64) - r))


def fmix(h):
    h = h ^ (h >> _U(33))
    h = h * P2
    h = h ^ (h >> _U(29))
    h = h * P3
    return h ^ (h >> _U(32))


def hash_long_vec(l_u64, seed_u64):
    """XXH64 of one 8-byte long with the given seed (Spark hashLong)."""
    h = seed_u64 + P5 + _U(8)
    h = h ^ (rotl(l_u64 * P2, 31) * P1)
    h = rotl(h, 27) * P1 + P4
    return fmix(h)


def hash_int_vec(i, seed_u64):
    """XXH64 of one 4-byte int with the given seed (Spark hashInt)."""
    h = seed_u64 + P5 + _U(4)
    h = h ^ (_U(i & 0xFFFFFFFF) * P1)
    h = rotl(h, 23) * P2 + P3
    return fmix(h)


def xxh64_bytes_py(data: bytes, seed: int) -> int:
    """Scalar reference XXH64 over bytes (any length, full spec)."""
    n = len(data)
    seed = _U(seed & 0xFFFFFFFFFFFFFFFF)
    i = 0
    if n >= 32:
        v1 = seed + P1 + P2
        v2 = seed + P2
        v3 = seed
        v4 = seed - P1
        while i + 32 <= n:
            k = _U(int.from_bytes(data[i : i + 8], "little"))
            v1 = rotl(v1 + k * P2, 31) * P1
            k = _U(int.from_bytes(data[i + 8 : i + 16], "little"))
            v2 = rotl(v2 + k * P2, 31) * P1
            k = _U(int.from_bytes(data[i + 16 : i + 24], "little"))
            v3 = rotl(v3 + k * P2, 31) * P1
            k = _U(int.from_bytes(data[i + 24 : i + 32], "little"))
            v4 = rotl(v4 + k * P2, 31) * P1
            i += 32
        h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ (rotl(v * P2, 31) * P1)) * P1 + P4
    else:
        h = seed + P5
    h = h + _U(n)
    while i + 8 <= n:
        k = _U(int.from_bytes(data[i : i + 8], "little"))
        h = rotl(h ^ (rotl(k * P2, 31) * P1), 27) * P1 + P4
        i += 8
    if i + 4 <= n:
        k = _U(int.from_bytes(data[i : i + 4], "little"))
        h = rotl(h ^ (k * P1), 23) * P2 + P3
        i += 4
    while i < n:
        h = rotl(h ^ (_U(data[i]) * P5), 11) * P1
        i += 1
    return int(fmix(h))


def xxh64_strings_vec(
    flat: np.ndarray,
    offs: np.ndarray,
    idx: np.ndarray,
    seeds: np.ndarray,
) -> np.ndarray:
    """XXH64 over selected UTF-8 strings with per-row seeds.

    flat: uint8 data buffer holding all strings back-to-back;
    offs: int64 (n_strings+1) byte offsets into flat;
    idx: int64 (m,) — which string each output row hashes;
    seeds: uint64 (m,). Returns uint64 (m,)."""
    starts = offs[idx]
    lens = offs[idx + 1] - starts
    m = idx.size
    out = np.zeros(m, dtype=np.uint64)
    long_rows = np.flatnonzero(lens >= 32)
    short = np.flatnonzero(lens < 32)
    if short.size:
        s_start = starts[short]
        s_len = lens[short]
        gather = s_start[:, None] + np.arange(32, dtype=np.int64)[None, :]
        np.clip(gather, 0, flat.size - 1, out=gather)
        pad = flat[gather]
        pad[np.arange(32)[None, :] >= s_len[:, None]] = 0
        words = pad.view(np.uint64).reshape(short.size, 4)
        h = seeds[short] + P5 + s_len.astype(np.uint64)
        for w in range(3):  # up to 3 full 8-byte words for len < 32
            mask = s_len >= 8 * (w + 1)
            h2 = rotl(h ^ (rotl(words[:, w] * P2, 31) * P1), 27) * P1 + P4
            h = np.where(mask, h2, h)
        rem = s_len & 7
        base = s_len & ~np.int64(7)
        has4 = rem >= 4
        g4 = s_start[:, None] + base[:, None] + np.arange(4, dtype=np.int64)[None, :]
        np.clip(g4, 0, flat.size - 1, out=g4)
        b4 = flat[g4].astype(np.uint64)
        k4 = (
            b4[:, 0]
            | (b4[:, 1] << _U(8))
            | (b4[:, 2] << _U(16))
            | (b4[:, 3] << _U(24))
        )
        h2 = rotl(h ^ (k4 * P1), 23) * P2 + P3
        h = np.where(has4, h2, h)
        tail_off = base + np.where(has4, 4, 0)
        n_tail = s_len - tail_off
        for t in range(3):  # <= 3 tail bytes by construction
            gt = s_start + tail_off + t
            np.clip(gt, 0, flat.size - 1, out=gt)
            b = flat[gt].astype(np.uint64)
            h2 = rotl(h ^ (b * P5), 11) * P1
            h = np.where(n_tail > t, h2, h)
        out[short] = fmix(h)
    for j in long_rows:
        b = flat[starts[j] : starts[j] + lens[j]].tobytes()
        out[j] = xxh64_bytes_py(b, int(seeds[j]))
    return out


def window_gram_hashes(words_col, n: int):
    """Stride-1 length-``n`` word-window gram hashes of an Arrow
    ListArray<string> column (one row per doc, docs already filtered to
    ≥ n words). Returns (doc_ix int64, fp uint64, nw int64-per-doc):
    ``fp`` is bit-equal to Spark's
    ``xxhash64(w[p], w[p+1], …, w[p+n-1])`` (left-to-right chain from
    seed 42 over the words' UTF-8 bytes)."""
    import pyarrow as pa

    col = words_col
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    doc_offs = col.offsets.to_numpy().astype(np.int64)
    vals = col.values  # StringArray of all words
    off_dtype = (
        np.int64 if pa.types.is_large_string(vals.type) else np.int32
    )
    woffs = np.frombuffer(vals.buffers()[1], dtype=off_dtype)[
        vals.offset : vals.offset + len(vals) + 1
    ].astype(np.int64)
    data_buf = vals.buffers()[2]
    flat = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None and len(data_buf) > 0
        else np.zeros(1, dtype=np.uint8)
    )
    m = len(col)
    lens = doc_offs[1:] - doc_offs[:-1]
    nw = lens - n + 1
    starts = np.repeat(doc_offs[:-1], nw)
    pos = np.arange(starts.size, dtype=np.int64) - np.repeat(
        np.cumsum(nw) - nw, nw
    )
    s = starts + pos
    fp = np.full(s.size, 42, dtype=np.uint64)
    for j in range(n):
        fp = xxh64_strings_vec(flat, woffs, s + j, fp)
    doc_ix = np.repeat(np.arange(m, dtype=np.int64), nw)
    return doc_ix, fp, nw


def distinct_per_doc(doc_ix: np.ndarray, fp: np.ndarray):
    """Sorted unique (doc, value) pairs: returns (doc_ix', fp', counts
    per doc) — the vectorized ``array_distinct`` (consumers are
    order-free: set semantics only)."""
    order = np.lexsort((fp, doc_ix))
    di, fo = doc_ix[order], fp[order]
    if di.size == 0:
        return di, fo, np.zeros(0, dtype=np.int64)
    keep = np.empty(di.size, dtype=bool)
    keep[0] = True
    keep[1:] = (di[1:] != di[:-1]) | (fo[1:] != fo[:-1])
    di, fo = di[keep], fo[keep]
    counts = np.bincount(di, minlength=int(doc_ix.max()) + 1 if doc_ix.size else 0)
    return di, fo, counts
