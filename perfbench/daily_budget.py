"""``daily_budget``: the production day close.

One operation appends a day of token rows, runs the resumable budget
downsample over the whole table (the commit log skips closed days), folds
the day's retained rows into the 1h and 1d tier stores and the 1d
histogram tier, re-encodes the 1h blobs, applies raw and tier retention and
compacts the retained store.

Set-up closes a history of ``HISTORY_DAYS`` days in one untimed call, so
the timed closes run against a commit log, tiers and retention logs that
already hold days; every close after it expires exactly one raw day and
one 1h day.
"""

from __future__ import annotations

import math
import os
import statistics

from pyspark.sql import functions as F

import gen
from oracle import (
    BIN_SQL, N_BINS, PROBS, TOKENS_SQL, connect, expect, flat, hive, inputs, parquet_files, quantile_estimate, rows,
)

ROWS_PER_DAY = 4_000
BUDGET = 100_000  # n_tok kept per (source, day): binds for web and books
HISTORY_DAYS = 6  # closed in one untimed call during set-up
KEEP_RAW_DAYS = 3  # K
KEEP_1H_DAYS = 4  # M (>= K: raw retention checks coverage in the 1h tier)

RETAINED_DDL = (
    "doc_id string, tokens array<int>, n_tok int, ts timestamp, row_idx long, "
    "bucket_start timestamp, source string, bucket_id string"
)
INPUT_DDL = "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp, row_idx long"
DAY_OF = "(date_diff('day', TIMESTAMP '2026-01-01', date_trunc('day', ts)))::INT"


def bucket_id(day: int) -> str:
    return gen.day_start(day).strftime("%Y%m%dT%H%M%S")


def disk_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def count_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(root) for f in files)


class DailyBudget:
    name = "daily_budget"
    min_ops = 1  # timed operations per run, at least

    def __init__(self, spark, tracer, workdir: str, seed: int):
        from rasusa_spark.plans.checkpoint import DownsampleJob

        self.spark, self.tr, self.seed = spark, tracer, seed
        base = os.path.join(workdir, "daily")
        self.incoming = os.path.join(base, "incoming")
        self.table = os.path.join(base, "tokens")
        self.out = os.path.join(base, "out")
        self.ck = os.path.join(base, "ck")
        os.makedirs(self.incoming)
        self.job = DownsampleJob(seed=seed, mode="bases", bases=BUDGET, strategy="threshold", bucket_unit="day")
        self.con = connect(workdir)
        self.next_day = 0
        self.raw_cut = 0  # first day still in the retained store
        self.h1_cut = 0  # first day still in the 1h tier
        self.seen: dict[tuple, tuple] = {}  # (source, day) -> (rows, n_tok, watermark)
        self.kept: dict[tuple, tuple] = {}  # (source, day) -> (rows, n_tok)
        self.h1: dict[int, set] = {}  # day -> 1h rows of the day's retained rows
        self.d1: dict[int, set] = {}  # day -> 1d rows
        self.hist: dict[int, dict] = {}  # day -> (source, day) -> log2 bins
        self.encoded: set = set()  # the 1h tier the blobs were last encoded from
        self.encode_cut = 0
        self.last_doc_ids: set[str] = set()
        self.timed_days: list[int] = []
        self.files_per_partition: list[float] = []
        self.store_files = 0
        self.partitions_dropped = 0
        self.blob_bytes_per_point = 0.0

    def day_file(self, day: int) -> str:
        table = gen.make_rows(self.seed, day, ROWS_PER_DAY, day * ROWS_PER_DAY, gen.day_start(day), 24, 0)
        return gen.write(table, os.path.join(self.incoming, f"day={day:03d}.parquet"))

    # -- the operation ----------------------------------------------------------
    def close(self, days: list[int], files: list[str]) -> None:
        from rasusa_spark.codecs.blobs import compress_metric_streams
        from rasusa_spark.plans.checkpoint import run_downsample_job
        from rasusa_spark.sources.table import read_tokens_table, write_tokens_table
        from rasusa_spark.streaming.incremental import merge_histogram_increment, merge_rollup_increment

        spark, tr = self.spark, self.tr
        with tr.span("sources.append"):
            write_tokens_table(spark.read.schema(INPUT_DDL).parquet(*files), self.table, mode="append")
        with tr.span("checkpoint.run"):
            run_downsample_job(
                spark, read_tokens_table(spark, self.table), self.job, self.out, self.ck, run_id=f"close-{days[-1]:03d}"
            )
        if tr.traced:
            parts = [os.path.join(self.out, "retained", f"source={s}", f"bucket_id={bucket_id(d)}") for d in days for s in gen.SOURCES]
            parts = [p for p in parts if os.path.isdir(p)]
            self.files_per_partition.append(sum(map(count_files, parts)) / max(len(parts), 1))
        kept = spark.read.schema(RETAINED_DDL).parquet(os.path.join(self.out, "retained")).where(
            F.col("bucket_id").isin([bucket_id(d) for d in days])
        )
        with tr.span("incremental.merge_rollup_1h"):
            merge_rollup_increment(spark, kept, self.out, tier="1h")
        with tr.span("incremental.merge_rollup_1d"):
            merge_rollup_increment(spark, kept, self.out, tier="1d")
        with tr.span("incremental.merge_hist_1d"):
            merge_histogram_increment(spark, kept, self.out, tier="1d")
        with tr.span("codecs.encode"):
            h1 = spark.read.parquet(os.path.join(self.out, "rollup_1h")).drop("bucket_part")
            compress_metric_streams(h1).write.mode("overwrite").parquet(os.path.join(self.out, "metric_blobs_1h"))
        self.encode_cut = self.h1_cut

    def retain(self, last: int) -> None:
        from rasusa_spark.plans.retention import apply_retention, apply_tier_retention
        from rasusa_spark.sources.table import compact_tokens_table

        spark, tr, run_id = self.spark, self.tr, f"close-{last:03d}"
        with tr.span("retention.raw_drop"):
            apply_retention(
                spark, self.out, drop_before=gen.iso(gen.day_start(last - KEEP_RAW_DAYS + 1)),
                tier="1h", run_id=run_id, checkpoint_path=self.ck,
            )
        with tr.span("retention.tier_drop"):
            apply_tier_retention(
                spark, self.out, drop_before=gen.iso(gen.day_start(last - KEEP_1H_DAYS + 1)),
                fine="1h", coarse="1d", run_id=run_id,
            )
        with tr.span("sources.compact"):
            compact_tokens_table(spark, os.path.join(self.out, "retained"))
        self.raw_cut = max(self.raw_cut, last - KEEP_RAW_DAYS + 1)
        self.h1_cut = max(self.h1_cut, last - KEEP_1H_DAYS + 1)

    # -- run hooks ---------------------------------------------------------------
    def setup(self, run_op) -> None:
        """Close the history in one call, which also warms up every step;
        its days are recorded before retention expires the oldest."""
        days = list(range(HISTORY_DAYS))
        files = [self.day_file(d) for d in days]
        with self.tr.span("setup.history"):
            self.close(days, files)
        self.record(days, files)
        with self.tr.span("setup.history"):
            self.retain(days[-1])
        self.next_day = HISTORY_DAYS
        self.verify_state()

    def op(self, i) -> dict:
        """One day close, timed from the day's file being on disk."""
        day = self.next_day
        path = self.day_file(day)
        with self.tr.op_span() as span:
            self.close([day], [path])
            self.retain(day)
        self.next_day += 1
        self.timed_days.append(day)
        self.pending = ([day], [path])
        return {"span": span, "rows": gen.rows_in(path)}

    def check(self) -> None:
        self.record(*self.pending)
        self.verify_state()

    # -- checks -----------------------------------------------------------------------
    def record(self, days: list[int], files: list[str]) -> None:
        """Check the closed days' retained rows and commit rows against
        DuckDB over the input files, and record their aggregates before
        retention drops them."""
        con = self.con
        inp = inputs(files)
        ids = ", ".join(f"'{bucket_id(d)}'" for d in days)
        ret = f"(SELECT * FROM {hive(os.path.join(self.out, 'retained'))} WHERE bucket_id IN ({ids}))"

        for s, d, n, tok, wm in rows(con, f"SELECT source, {DAY_OF}, count(*), sum(n_tok), max(ts) FROM {inp} GROUP BY ALL"):
            self.seen[(s, d)] = (n, int(tok), wm)

        # every retained row is an input row, once, with the generator's tokens
        bad = rows(con, f"""
            SELECT count(*) FROM {ret} r ANTI JOIN {inp} i
              ON r.doc_id = i.doc_id AND r.row_idx = i.row_idx AND r.n_tok = i.n_tok
             AND r.source = i.source AND r.ts = i.ts""")[0][0]
        expect(bad == 0, f"{bad} retained rows differ from their input rows")
        bad = rows(con, f"SELECT count(*) FROM {ret} r WHERE r.tokens IS DISTINCT FROM {TOKENS_SQL}")[0][0]
        expect(bad == 0, f"{bad} retained rows carry tokens other than the generator's")
        dup = rows(con, f"SELECT count(*) - count(DISTINCT doc_id) FROM {ret}")[0][0]
        expect(dup == 0, f"{dup} duplicate retained rows")
        bad = rows(con, f"SELECT count(*) FROM {ret} WHERE bucket_start != date_trunc('day', ts)")[0][0]
        expect(bad == 0, "retained rows in the wrong day bucket")

        # the budget property per (source, day)
        kept = {
            (s, d): (n, int(tok), mx)
            for s, d, n, tok, mx in rows(con, f"SELECT source, {DAY_OF}, count(*), sum(n_tok), max(n_tok) FROM {ret} GROUP BY ALL")
        }
        for (s, d), (_, total, _) in self.seen.items():
            if d not in days:
                continue
            n, tok, mx = kept.get((s, d), (0, 0, 0))
            expect(tok >= min(BUDGET, total), f"{s} day {d}: kept {tok} n_tok < min(budget, {total})")
            expect(n == 0 or tok - mx < BUDGET, f"{s} day {d}: kept {tok} n_tok overshoots the budget by a whole row")
            self.kept[(s, d)] = (n, tok)
        for d in days:
            agg = "sum(n_tok), count(*), min(n_tok), max(n_tok) FROM {} WHERE {} = {} GROUP BY ALL"
            self.h1[d] = set(rows(con, "SELECT source, date_trunc('hour', ts), " + agg.format(ret, DAY_OF, d)))
            self.d1[d] = set(rows(con, "SELECT source, date_trunc('day', ts)::TIMESTAMP, " + agg.format(ret, DAY_OF, d)))
            self.hist[d] = {}
            for s, b, k, c in rows(con, f"SELECT source, date_trunc('day', ts)::TIMESTAMP, {BIN_SQL}, count(*) FROM {ret} WHERE {DAY_OF} = {d} GROUP BY ALL"):
                self.hist[d].setdefault((s, b), [0] * N_BINS)[k] = c
        self.last_doc_ids = {r[0] for r in rows(con, f"SELECT doc_id FROM {ret} WHERE {DAY_OF} = {days[-1]}")}
        self.encoded = set().union(*(self.h1[d] for d in self.h1 if d >= self.encode_cut))

        # the commit log: one row per closed (source, day), equal to the ledgers
        commits = rows(con, f"""
            SELECT source, (date_diff('day', TIMESTAMP '2026-01-01', bucket_start))::INT,
                   rows_seen, n_tok_seen, watermark, rows_kept, n_tok_kept, seed
            FROM {flat(parquet_files(os.path.join(self.ck, 'commits')))}""")
        keys = [(c[0], c[1]) for c in commits]
        expect(len(keys) == len(set(keys)), "a (source, day) was committed twice")
        expect(set(keys) == set(self.seen), "the commit log does not cover exactly the closed days")
        for s, d, rs, tok_seen, wm, rk, tok_kept, sd in commits:
            expect((rs, tok_seen, wm) == self.seen[(s, d)], f"commit {s} day {d}: seen {(rs, tok_seen, wm)} != input {self.seen[(s, d)]}")
            expect((rk, tok_kept) == self.kept[(s, d)], f"commit {s} day {d}: kept {(rk, tok_kept)} != retained {self.kept[(s, d)]}")
            expect(sd == self.seed, "a commit carries the wrong seed")

    def verify_state(self) -> None:
        """Retained store, tiers, retention logs and blobs against the
        recorded DuckDB aggregates."""
        con = self.con
        closed = sorted(self.h1)
        left = {r[0] for r in rows(con, f"SELECT DISTINCT bucket_id FROM {hive(os.path.join(self.out, 'retained'))}")}
        expect(left == {bucket_id(d) for d in closed if d >= self.raw_cut}, "the retained store holds days outside the raw window")

        tier = "SELECT source, bucket_start, n_tok_sum, row_count, n_tok_min, n_tok_max FROM {} WHERE NOT gap_filled"
        got = set(rows(con, tier.format(hive(os.path.join(self.out, "rollup_1h")))))
        want = set().union(*(self.h1[d] for d in closed if d >= self.h1_cut))
        expect(got == want, f"the 1h tier differs from DuckDB over retained rows ({len(got ^ want)} rows)")
        got = set(rows(con, tier.format(hive(os.path.join(self.out, "rollup_1d")))))
        want = set().union(*(self.d1[d] for d in closed))
        expect(got == want, f"the 1d tier differs from DuckDB over retained rows ({len(got ^ want)} rows)")
        got = {(s, b): list(h) for s, b, h in rows(con, f"SELECT source, bucket_start, hist FROM {hive(os.path.join(self.out, 'hist_1d'))}")}
        expect(got == self.want_hist(), "the 1d histogram tier differs from DuckDB log2 bins over retained rows")

        self.partitions_dropped = 0
        if self.raw_cut > 0:
            log = rows(con, f"""
                SELECT source, (date_diff('day', TIMESTAMP '2026-01-01', bucket_start))::INT, rows_dropped, n_tok_dropped
                FROM {flat(parquet_files(os.path.join(self.ck, 'retention')))} WHERE tier = '1h'""")
            want = [(s, d, *v) for (s, d), v in self.kept.items() if d < self.raw_cut and v[0]]
            expect(sorted(log) == sorted(want), "the raw retention log differs from the expired retained partitions")
            self.partitions_dropped += len(log)
        if self.h1_cut > 0:
            log = rows(con, f"SELECT source, rows_dropped, n_tok_dropped FROM {flat(parquet_files(os.path.join(self.out, 'tier_retention')))}")
            want = [
                (f"bucket_part={gen.day_start(d).strftime('%Y%m%d')}", len(self.h1[d]), sum(r[2] for r in self.h1[d]))
                for d in closed if d < self.h1_cut
            ]
            expect(sorted(log) == sorted(want), "the tier retention log differs from the expired 1h days")
            self.partitions_dropped += len(log)
        self.check_blobs()
        self.store_files = sum(count_files(os.path.join(self.out, t)) for t in ("rollup_1h", "rollup_1d", "hist_1d"))

    def want_hist(self) -> dict:
        return {k: v for d in sorted(self.hist) for k, v in self.hist[d].items()}

    def check_blobs(self) -> None:
        """The blobs decode to the 1h tier they were encoded from (the
        close encodes before retention expires 1h days)."""
        import pyarrow.parquet as pq

        from rasusa_spark.codecs.blobs import decode_metric_streams

        blobs = pq.read_table(parquet_files(os.path.join(self.out, "metric_blobs_1h"))).to_pandas()
        dec = decode_metric_streams(blobs)
        got = {(r.group_key, r.bucket_start.to_pydatetime(), int(r.n_tok_sum), int(r.row_count)) for r in dec.itertuples()}
        want = {(s, b, tot, n) for s, b, tot, n, _, _ in self.encoded}
        expect(len(dec) == len(got) and got == want, f"decoded 1h blobs differ from the 1h tier ({len(got ^ want)} points)")
        nbytes = sum(blobs[c].map(len).sum() for c in ("ts_blob", "sum_blob", "count_blob", "value_blob"))
        self.blob_bytes_per_point = float(nbytes) / max(int(blobs["n_points"].sum()), 1)

    def final(self) -> None:
        """Quantiles over the 1d histogram tier against an interpolation
        over DuckDB's bins; and layout invariance: re-select the last
        closed day at another shuffle-partition count, which must keep the
        set the job retained."""
        from rasusa_spark.functions.histsketch import histogram_quantile
        from rasusa_spark.operators.downsample import downsample, release_threshold_caches
        from rasusa_spark.sources.table import read_tokens_table

        spark, last = self.spark, self.next_day - 1
        with self.tr.span("histsketch.quantile"):
            hist = spark.read.parquet(os.path.join(self.out, "hist_1d")).drop("bucket_part")
            quantiles = histogram_quantile(hist, PROBS).collect()
        want = self.want_hist()
        expect(len(quantiles) == len(want), "quantiles for the wrong number of 1d buckets")
        for r in quantiles:
            for p in PROBS:
                got_q = getattr(r, f"q{f'{p * 100:g}'.replace('.', '_')}_est")
                want_q = quantile_estimate(want[(r.source, r.bucket_start)], p)
                expect(math.isclose(got_q, want_q, abs_tol=1e-6), f"q{p} {got_q} != {want_q} for {r.source} {r.bucket_start}")

        day = (
            read_tokens_table(spark, self.table)
            .where(F.to_date("ts") == F.lit(str(gen.day_start(last).date())).cast("date"))
            .withColumn("bucket_start", F.date_trunc("day", F.col("ts")))
        )
        kw = dict(seed=self.seed, group_cols=["source", "bucket_start"], mode="bases", bases=BUDGET, strategy="threshold")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            ids = {r.doc_id for r in downsample(day, **kw).select("doc_id").collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            release_threshold_caches()
        expect(ids == self.last_doc_ids, "re-selection at 3 shuffle partitions changed the kept set")
        if self.tr.traced:
            for _ in range(3):
                with self.tr.span("downsample.threshold"):
                    downsample(day, **kw).count()
                release_threshold_caches()

    # -- reporting --------------------------------------------------------------------
    def _sum(self, ledger: dict, k: int) -> int:
        return sum(v[k] for (_, d), v in ledger.items() if d in self.timed_days)

    def report(self, op_times: list[float]) -> dict[str, tuple[float, str]]:
        return {
            "day_close_s_p50": (statistics.median(op_times), "s"),
            "downsample_tok_per_s": (self._sum(self.seen, 1) / sum(op_times), "tok/s"),
            "store_mb": (disk_bytes(self.out, self.ck) / 1e6, "MB"),
        }

    def layer_counts(self) -> dict[str, tuple[float, str]]:
        out = {
            "checkpoint.keep_tok_ratio": (self._sum(self.kept, 1) / self._sum(self.seen, 1), "ratio"),
            "checkpoint.keep_row_ratio": (self._sum(self.kept, 0) / self._sum(self.seen, 0), "ratio"),
            "incremental.store_files": (float(self.store_files), "count"),
            "codecs.blob_bytes_per_point": (self.blob_bytes_per_point, "B"),
            "retention.partitions_dropped": (float(self.partitions_dropped), "count"),
            "sources.files_per_partition": (statistics.median(self.files_per_partition), "count"),
        }
        threshold = self.tr.durations("downsample.threshold", timed_only=False)
        if threshold:
            out["downsample.threshold_s"] = (statistics.median(threshold), "s")
        return out
