"""``exact_parity``: reference-exact selection over many ``(source, hour)``
groups.

One operation runs ``downsample(strategy="exact")`` in each of the modes
``bases``, ``num`` and ``frac`` and one ``mode="one_pass"`` pass over the
same rows, collecting the kept keys; nothing is written. This is
the path through the ported PCG64 stream (``rng``) and the Arrow/Python
worker boundary, with no parquet writes and no tiers.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

import gen
from oracle import connect, expect, inputs, rows

HOURS = 8
ROWS_PER_HOUR = 4_000  # web groups ~2400 rows, forums ~200
MODES = ("bases", "num", "frac")
PARAMS = {"bases": {"bases": 60_000}, "num": {"num": 500}, "frac": {"frac": 0.3}}
ONE_PASS_FRAC = 0.25
WARMUP_OPS = 1

# rasusa's published goldens (tests/reproducibility.rs:6-128) on its
# 16-read seed.fastq: kept read numbers for `-n 10` and `--one-pass -f 0.5`
GOLDEN_NUM10 = {
    1: [1, 2, 3, 5, 7, 9, 11, 12, 14, 15],
    2: [1, 4, 7, 8, 9, 10, 11, 13, 14, 15],
    3: [2, 4, 5, 6, 8, 9, 10, 12, 13, 14],
    4: [1, 2, 3, 4, 5, 7, 10, 11, 13, 16],
    5: [4, 5, 6, 7, 8, 9, 10, 11, 14, 15],
}
GOLDEN_ONE_PASS = {
    1: [2, 3, 6, 7, 8, 11, 14, 15, 16],
    2: [1, 2, 3, 5, 8, 10],
    3: [1, 2, 3, 9, 10, 12, 14, 16],
    4: [1, 2, 4, 13, 14, 16],
    5: [1, 3, 6, 7, 8, 11, 12, 13, 14, 16],
}


class ExactParity:
    name = "exact_parity"
    min_ops = 3  # timed operations per run, at least

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.dir = os.path.join(workdir, "exact")
        os.makedirs(self.dir)
        self.con = connect(workdir)
        self.files = [
            gen.write(
                gen.make_rows(seed, h, ROWS_PER_HOUR, h * ROWS_PER_HOUR, gen.EPOCH.replace(hour=h), 1, h, with_tokens=False),
                os.path.join(self.dir, f"hour={h:02d}.parquet"),
            )
            for h in range(HOURS)
        ]
        self.first: dict[str, set] = {}
        self.one_pass_kept: set[int] | None = None
        # the reference view of every input row: row_idx -> (group, n_tok)
        self.row = {
            i: ((s, h), n)
            for i, s, h, n in rows(self.con, f"SELECT row_idx, source, date_trunc('hour', ts), n_tok FROM {inputs(self.files)}")
        }
        self.groups: dict[tuple, list[int]] = defaultdict(list)
        for i, (g, n) in self.row.items():
            self.groups[g].append(n)

    def frame(self):
        return self.spark.read.parquet(*self.files).withColumn("hour", F.date_trunc("hour", F.col("ts")))

    # -- the operation ------------------------------------------------------------
    def op(self, i) -> dict:
        """Every exact mode in turn, then the one-pass pass, over the same
        rows: each operation does the same work."""
        from rasusa_spark.operators.downsample import downsample

        df = self.frame()
        kept = {}
        with self.tr.op_span() as span:
            for mode in MODES:
                with self.tr.span(f"downsample.exact_{mode}"):
                    kept[mode] = downsample(
                        df, seed=self.seed, group_cols=["source", "hour"], mode=mode, strategy="exact", **PARAMS[mode]
                    ).select("source", "hour", "row_idx", "n_tok").collect()
            with self.tr.span("downsample.one_pass"):
                one_pass = downsample(
                    df, seed=self.seed, group_cols=["source", "hour"], mode="one_pass", frac=ONE_PASS_FRAC
                ).select("source", "hour", "row_idx").collect()
        self.pending = (kept, one_pass)
        return {"span": span, "rows": (len(MODES) + 1) * len(self.row)}

    def check(self) -> None:
        kept, one_pass = self.pending
        for mode, rows_kept in kept.items():
            self.check_exact(mode, rows_kept)
        self.check_one_pass(one_pass)

    def setup(self, run_op) -> None:
        for _ in range(WARMUP_OPS):
            run_op(None)
            self.check()

    # -- checks ---------------------------------------------------------------------
    def _groups_of(self, kept) -> dict[tuple, list]:
        out: dict[tuple, list] = defaultdict(list)
        for r in kept:
            g, n = self.row.get(r.row_idx, (None, None))
            expect(g == (r.source, r.hour), f"kept row {r.row_idx} is not an input row of its group")
            expect("n_tok" not in r.__fields__ or r.n_tok == n, f"kept row {r.row_idx} changed its n_tok")
            out[g].append(r)
        return out

    def check_exact(self, mode: str, kept) -> None:
        ids = {r.row_idx for r in kept}
        expect(len(ids) == len(kept), f"{mode}: a row was kept twice")
        by_group = self._groups_of(kept)
        for g, lengths in self.groups.items():
            n, got = len(lengths), by_group.get(g, [])
            if mode == "num":
                want = min(PARAMS["num"]["num"], n)
                expect(len(got) == want, f"num: {g} kept {len(got)} rows, want min(k, n) = {want}")
            elif mode == "frac":
                # the reference parses the fraction as f32 and rounds half away from zero
                want = int(np.floor(float(np.float32(PARAMS["frac"]["frac"])) * n + 0.5))
                expect(len(got) == want, f"frac: {g} kept {len(got)} rows, want {want}")
            else:
                budget, total = PARAMS["bases"]["bases"], sum(lengths)
                tok = sum(r.n_tok for r in got)
                expect(tok >= min(budget, total), f"bases: {g} kept {tok} n_tok < min(budget, {total})")
                expect(not got or tok - max(r.n_tok for r in got) < budget, f"bases: {g} kept {tok} n_tok overshoots")
        if mode in self.first:
            expect(ids == self.first[mode], f"{mode}: the same seed kept a different set")
        else:
            self.first[mode] = ids

    def check_one_pass(self, kept) -> None:
        by_group = self._groups_of(kept)
        for g, got in by_group.items():
            idx = [r.row_idx for r in got]
            expect(idx == sorted(idx), f"one_pass: {g} output is not in input order")
        ids = {r.row_idx for r in kept}
        if self.one_pass_kept is None:
            self.one_pass_kept = ids
        expect(ids == self.one_pass_kept, "one_pass: the same seed kept a different set")

    def final(self) -> None:
        """Subset invariance of one-pass decisions, and one of rasusa's five
        golden seeds (picked by the run's seed, so ten runs cover all five)."""
        from pyspark.sql import types as T

        from rasusa_spark.operators.downsample import downsample

        spark = self.spark
        sub = self.frame().where(F.col("row_idx") % 3 == 0)
        got = {r.row_idx for r in downsample(
            sub, seed=self.seed, group_cols=["source", "hour"], mode="one_pass", frac=ONE_PASS_FRAC
        ).select("row_idx").collect()}
        expect(got == {i for i in self.one_pass_kept if i % 3 == 0}, "one_pass: decisions changed on a subset of rows")

        schema = T.StructType([
            T.StructField("doc_id", T.StringType()), T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()), T.StructField("source", T.StringType()),
            T.StructField("ts", T.TimestampType()), T.StructField("row_idx", T.LongType()),
        ])
        fixture = spark.createDataFrame(
            [(f"read{i + 1}", [1, 2, 3, 4], 4, "seedfq", gen.EPOCH, i) for i in range(16)], schema
        )
        seed = (self.seed - 1) % len(GOLDEN_NUM10) + 1
        for mode, kw, golden in (("num", {"num": 10, "strategy": "exact"}, GOLDEN_NUM10),
                                 ("one_pass", {"frac": 0.5}, GOLDEN_ONE_PASS)):
            kept = downsample(fixture, seed=seed, mode=mode, derive_group_seeds=False, **kw).collect()
            got = sorted(r.doc_id for r in kept)
            expect(got == sorted(f"read{i}" for i in golden[seed]), f"{mode} seed {seed}: {got} != rasusa's golden")
            expect(all(r.tokens == [1, 2, 3, 4] for r in kept), f"{mode} seed {seed}: token arrays changed")

    # -- reporting -----------------------------------------------------------------
    def report(self, op_times: list[float]) -> dict[str, tuple[float, str]]:
        rows_per_op = (len(MODES) + 1) * len(self.row)
        return {"exact_rows_per_s": (rows_per_op * len(op_times) / sum(op_times), "rows/s")}

    def layer_counts(self) -> dict[str, tuple[float, str]]:
        return {}
