"""Seeded input generator for the benchmark: the token table
``(doc_id, tokens, n_tok, source, ts, row_idx)`` written straight to parquet
with numpy + pyarrow (no Spark, so input generation stays a small part of
set-up).

Every value is a pure function of ``(seed, file index, row index)``:

- ``source`` is Zipf-skewed, about 60 % ``web``;
- ``n_tok`` is log-normal around 150 tokens, clipped to [8, 1024];
- ``tokens[j] = (row_idx * 1000003 + j * 7919) % 50257`` — a closed form that
  the checks recompute in DuckDB SQL, independent of this module;
- some ``(source, hour)`` slots are planted empty in every day, so gap-fill
  has a known answer.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "books", "code", "wiki", "forums")
SOURCE_P = (0.60, 0.15, 0.12, 0.08, 0.05)
VOCAB = 50_257
TOK_A, TOK_B = 1_000_003, 7_919
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

#: (source, hour of day) slots that never receive a row, in any day
PLANTED_EMPTY = frozenset({("wiki", 3), ("wiki", 4), ("wiki", 5), ("forums", 13)})

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("row_idx", pa.int64()),
    ]
)


def day_start(day: int) -> dt.datetime:
    return EPOCH + dt.timedelta(days=day)


def iso(t: dt.datetime) -> str:
    """Naive ISO form (session time zone is UTC) as the engine's APIs take."""
    return t.astimezone(dt.timezone.utc).replace(tzinfo=None).isoformat(sep=" ")


def token_values(row_idx: np.ndarray, n_tok: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flat token values and list offsets for the given rows."""
    offsets = np.zeros(len(n_tok) + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    rows = np.repeat(row_idx.astype(np.int64), n_tok)
    j = np.arange(offsets[-1], dtype=np.int64) - np.repeat(offsets[:-1], n_tok)
    return ((rows * TOK_A + j * TOK_B) % VOCAB).astype(np.int32), offsets


def make_rows(
    seed: int,
    file_key: int,
    n: int,
    first_row_idx: int,
    t0: dt.datetime,
    span_hours: int,
    hour_of_day0: int,
    with_tokens: bool = True,
) -> pa.Table:
    """``n`` rows with ``row_idx`` from ``first_row_idx``, timestamps spread
    over ``span_hours`` hours from ``t0`` (``hour_of_day0`` is t0's hour of
    day), never inside a planted-empty slot."""
    rng = np.random.default_rng([seed, file_key])
    src = rng.choice(len(SOURCES), size=n, p=SOURCE_P)
    hour = rng.integers(0, span_hours, size=n)
    # rows drawn into a planted-empty slot move to the next free hour in
    # span (every source has at least one free hour per span of >= 4 h)
    for s, h in PLANTED_EMPTY:
        si = SOURCES.index(s)
        for k in range(span_hours):
            if (hour_of_day0 + k) % 24 != h:
                continue
            bad = (src == si) & (hour == k)
            if not bad.any():
                continue
            free = [
                k2 for k2 in range(span_hours)
                if (s, (hour_of_day0 + k2) % 24) not in PLANTED_EMPTY
            ]
            if not free:
                src[bad] = 0  # a one-hour span inside the slot: give it to web
            else:
                hour[bad] = rng.choice(free, size=int(bad.sum()))
    secs = rng.integers(0, 3600, size=n)
    n_tok = np.clip(np.round(rng.lognormal(np.log(150.0), 0.8, size=n)), 8, 1024).astype(np.int32)
    row_idx = np.arange(first_row_idx, first_row_idx + n, dtype=np.int64)
    t0_us = int(t0.timestamp()) * 1_000_000
    ts = t0_us + (hour.astype(np.int64) * 3600 + secs) * 1_000_000
    order = np.argsort(ts, kind="stable")
    src, n_tok, ts = src[order], n_tok[order], ts[order]  # row_idx stays ascending
    names = np.array(SOURCES, dtype=object)[src]
    doc_id = np.char.add(
        np.char.add(names.astype(str), "-"),
        np.char.zfill(row_idx.astype(str), 10),
    )
    cols = {
        "doc_id": pa.array(doc_id.tolist(), pa.string()),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(names.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "row_idx": pa.array(row_idx, pa.int64()),
    }
    if with_tokens:
        values, offsets = token_values(row_idx, n_tok)
        cols["tokens"] = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(values))
        return pa.table({f.name: cols[f.name] for f in SCHEMA}, schema=SCHEMA)
    schema = pa.schema([f for f in SCHEMA if f.name != "tokens"])
    return pa.table({f.name: cols[f.name] for f in schema}, schema=schema)


def rows_in(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
