"""DuckDB reference computations over the benchmark's own inputs and the
engine's on-disk outputs. Nothing here calls into ``rasusa_spark``."""

from __future__ import annotations

import glob
import os

import duckdb

from gen import TOK_A, TOK_B, VOCAB


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def connect(workdir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(workdir, 'duckdb-tmp')}'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def files_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def parquet_files(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def hive(root: str) -> str:
    """A DuckDB scan of a hive-partitioned parquet directory."""
    return f"read_parquet({files_list(parquet_files(root))}, hive_partitioning = true)"


def flat(paths: list[str]) -> str:
    return f"read_parquet({files_list(paths)})"


def inputs(paths: list[str]) -> str:
    """The generator's files, with ``ts`` as naive UTC like Spark writes it."""
    return f"(SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM read_parquet({files_list(paths)}))"


#: the generator's token formula, recomputed in SQL for a row alias ``r``
TOKENS_SQL = (
    f"list_transform(range(r.n_tok::BIGINT), j -> "
    f"((r.row_idx * {TOK_A} + j * {TOK_B}) % {VOCAB})::INTEGER)"
)

#: the engine's histogram sketch has 32 log2 bins
N_BINS = 32

#: bit length of a positive value (the log2 histogram bin), clamped to 31
BIN_SQL = "CASE WHEN n_tok <= 0 THEN 0 ELSE least(length(bin(n_tok::BIGINT)), 31) END"

#: the quantiles the checks ask of a histogram tier
PROBS = (0.5, 0.9, 0.99)


def quantile_estimate(hist: list[int], p: float) -> float | None:
    """Prometheus-style histogram_quantile over log2 bins: bin b covers
    (2^(b-1), 2^b], bin 0 holds values <= 0; linear inside the bin."""
    total = sum(hist)
    if total == 0:
        return None
    target, cum = p * total, 0
    for b, c in enumerate(hist):
        if cum + c >= target:
            frac = (target - cum) / c if c > 0 else 0.0
            lo, hi = (0.0, 0.0) if b == 0 else (2.0 ** (b - 1), 2.0 ** b)
            return lo + frac * (hi - lo)
        cum += c
    return None


def rows(con, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()
