"""``ingest_dashboard``: micro-batch files fold into the 1h sum and
histogram tier stores while dashboards read them.

One operation merges one hour file into both stores through the crash-safe
transaction path (``files=[...]``), then the reader issues its fixed
rotation: real-time rollup (stored 1h ∪ raw tail), 1h → 1d re-roll,
gap-fill over a fixed span, histogram quantiles, and the 1h tier as
compressed streams decoded. Every fourth file carries late rows for earlier
hours and is merged with ``allow_late=True``.
"""

from __future__ import annotations

import datetime as dt
import math
import os

from pyspark.sql import functions as F

import gen
from oracle import BIN_SQL, N_BINS, PROBS, connect, expect, hive, inputs, quantile_estimate, rows

ROWS_PER_HOUR = 500
LATE_ROWS = 120
LATE_EVERY = 4  # file k after the history is late when k % LATE_EVERY == 1
HISTORY_HOURS = 24  # merged in one transaction per store during set-up
WARMUP_CYCLES = 1
GAP_SPAN = (gen.iso(gen.day_start(0)), gen.iso(gen.day_start(0) + dt.timedelta(hours=23)))


def hour_start(h: int) -> dt.datetime:
    return gen.EPOCH + dt.timedelta(hours=h)


class IngestDashboard:
    name = "ingest_dashboard"
    min_ops = 4  # timed operations per run, at least

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        base = os.path.join(workdir, "ingest")
        self.files_dir = os.path.join(base, "files")
        self.state = os.path.join(base, "state")
        os.makedirs(self.files_dir)
        self.con = connect(workdir)
        self.ingested: list[str] = []
        self.n_files = 0
        self.next_row = 0
        self.hour = 0  # next on-time hour
        self.latest_file = None  # newest on-time file (the raw tail)
        self.late_files = 0
        self.store_files: list[int] = []

    # -- inputs -----------------------------------------------------------------
    def next_file(self) -> tuple[str, bool]:
        k = self.n_files
        late = k >= HISTORY_HOURS and (k - HISTORY_HOURS) % LATE_EVERY == 1
        if late:  # rows for hours [hour - 20, hour - 2), all behind the watermark
            first = self.hour - 20
            table = gen.make_rows(self.seed, k, LATE_ROWS, self.next_row, hour_start(first), 18, first % 24, with_tokens=False)
        else:
            table = gen.make_rows(self.seed, k, ROWS_PER_HOUR, self.next_row, hour_start(self.hour), 1, self.hour % 24, with_tokens=False)
        path = gen.write(table, os.path.join(self.files_dir, f"file={k:05d}.parquet"))
        self.n_files += 1
        self.next_row += table.num_rows
        if not late:
            self.latest_file, self.hour = path, self.hour + 1
        return path, late

    # -- the operation ----------------------------------------------------------------
    def merge(self, files: list[str], late: bool) -> None:
        from rasusa_spark.streaming.incremental import merge_histogram_increment, merge_rollup_increment

        spark, tr = self.spark, self.tr
        with tr.span("incremental.merge_rollup"):
            merge_rollup_increment(spark, spark.read.parquet(*files), self.state, tier="1h", allow_late=late, files=files)
        with tr.span("incremental.merge_hist"):
            merge_histogram_increment(spark, spark.read.parquet(*files), self.state, tier="1h", allow_late=late, files=files)
        self.ingested.extend(files)

    def read(self) -> dict:
        """The dashboard's fixed rotation of queries."""
        from rasusa_spark.codecs.blobs import compress_metric_streams, decode_metric_streams
        from rasusa_spark.functions.histsketch import histogram_quantile
        from rasusa_spark.operators.rollup import gap_fill, realtime_rollup, rollup_from_finer

        spark, tr = self.spark, self.tr
        stored = spark.read.parquet(os.path.join(self.state, "rollup_1h")).drop("bucket_part")
        hist = spark.read.parquet(os.path.join(self.state, "hist_1h")).drop("bucket_part")
        out = {}
        with tr.span("query"), tr.span("rollup.realtime"):
            wm = gen.iso(hour_start(self.hour - 1))
            out["realtime"] = realtime_rollup(stored, spark.read.parquet(self.latest_file), "1h", watermark=wm).collect()
        with tr.span("query"), tr.span("rollup.reroll_1d"):
            out["reroll_1d"] = rollup_from_finer(stored, "1d").collect()
        with tr.span("query"), tr.span("rollup.gap_fill"):
            lo, hi = GAP_SPAN
            span_rows = stored.where(F.col("bucket_start").between(F.to_timestamp(F.lit(lo)), F.to_timestamp(F.lit(hi))))
            out["gap_fill"] = gap_fill(span_rows, "1h", span=GAP_SPAN).collect()
        with tr.span("query"), tr.span("histsketch.quantile"):
            out["quantile"] = histogram_quantile(hist, PROBS).collect()
        with tr.span("query"):
            with tr.span("codecs.encode"):
                blobs = compress_metric_streams(stored).toPandas()
            with tr.span("codecs.decode"):
                out["decoded"] = decode_metric_streams(blobs)
        return out

    # -- run hooks --------------------------------------------------------------------
    def setup(self, run_op) -> None:
        history = [self.next_file()[0] for _ in range(HISTORY_HOURS)]
        with self.tr.span("setup.history"):
            self.merge(history, late=False)
        self.check_stores()
        for _ in range(WARMUP_CYCLES):
            run_op(None)
            self.check()

    def op(self, i) -> dict:
        """Merge one file into both stores, then serve the dashboard."""
        path, late = self.next_file()
        with self.tr.op_span() as span:
            self.merge([path], late)
            answers = self.read()
        if late and i is not None:
            self.late_files += 1
        self.pending = answers
        return {"span": span, "rows": LATE_ROWS if late else ROWS_PER_HOUR}

    def check(self) -> None:
        self.check_stores()
        self.check_answers(self.pending)

    # -- checks -----------------------------------------------------------------
    def check_stores(self) -> None:
        con = self.con
        inp = inputs(self.ingested)
        self.want_1h = set(rows(con, f"""
            SELECT source, date_trunc('hour', ts), sum(n_tok), count(*), min(n_tok), max(n_tok)
            FROM {inp} GROUP BY ALL"""))
        got = set(rows(con, f"""
            SELECT source, bucket_start, n_tok_sum, row_count, n_tok_min, n_tok_max
            FROM {hive(os.path.join(self.state, 'rollup_1h'))} WHERE NOT gap_filled"""))
        expect(got == self.want_1h, f"1h sum store differs from DuckDB over the ingested files ({len(got ^ self.want_1h)} rows)")

        self.want_hist: dict[tuple, list[int]] = {}
        for s, b, k, c in rows(con, f"SELECT source, date_trunc('hour', ts), {BIN_SQL}, count(*) FROM {inp} GROUP BY ALL"):
            self.want_hist.setdefault((s, b), [0] * N_BINS)[k] = c
        got_hist = {(s, b): list(h) for s, b, h in rows(con, f"SELECT source, bucket_start, hist FROM {hive(os.path.join(self.state, 'hist_1h'))}")}
        expect(got_hist == self.want_hist, "1h histogram store differs from DuckDB bins over the ingested files")
        self.store_files.append(
            sum(
                f.endswith(".parquet")
                for store in ("rollup_1h", "hist_1h")
                for _, _, fs in os.walk(os.path.join(self.state, store))
                for f in fs
            )
        )

    def check_answers(self, out: dict) -> None:
        key = lambda r: (r.source, r.bucket_start, r.n_tok_sum, r.row_count, r.n_tok_min, r.n_tok_max)  # noqa: E731
        got = {key(r) for r in out["realtime"]}
        expect(len(got) == len(out["realtime"]) and got == self.want_1h, "realtime rollup differs from DuckDB 1h")

        want_1d: dict[tuple, list] = {}
        for s, b, tot, n, mn, mx in self.want_1h:
            day = b.replace(hour=0)
            acc = want_1d.setdefault((s, day), [0, 0, mn, mx])
            acc[0] += tot
            acc[1] += n
            acc[2], acc[3] = min(acc[2], mn), max(acc[3], mx)
        got = {key(r) for r in out["reroll_1d"]}
        expect(got == {(s, d, *v) for (s, d), v in want_1d.items()}, "1h -> 1d re-roll differs from DuckDB 1d")

        lo = dt.datetime.fromisoformat(GAP_SPAN[0])
        span_hours = {lo + dt.timedelta(hours=h) for h in range(24)}
        gaps = {(r.source, r.bucket_start) for r in out["gap_fill"] if r.gap_filled}
        planted = {(s, lo.replace(hour=h)) for s, h in gen.PLANTED_EMPTY}
        expect(gaps == planted, f"gap_fill emitted {sorted(gaps ^ planted)[:3]} beyond the planted empty hours")
        filled = {key(r) for r in out["gap_fill"] if not r.gap_filled}
        expect(filled == {r for r in self.want_1h if r[1] in span_hours}, "gap_fill's data rows differ from DuckDB")
        expect(len(out["gap_fill"]) == len(gen.SOURCES) * 24, "gap_fill spine is not 24 hours per source")

        expect(len(out["quantile"]) == len(self.want_hist), "quantiles for the wrong number of buckets")
        for r in out["quantile"]:
            h = self.want_hist[(r.source, r.bucket_start)]
            for p in PROBS:
                got_q = getattr(r, f"q{f'{p * 100:g}'.replace('.', '_')}_est")
                want_q = quantile_estimate(h, p)
                expect(math.isclose(got_q, want_q, abs_tol=1e-6), f"q{p} {got_q} != {want_q} for {r.source} {r.bucket_start}")

        dec = out["decoded"]
        got = {
            (r.group_key, r.bucket_start.to_pydatetime(), int(r.n_tok_sum), int(r.row_count), float(r.mean_n_tok))
            for r in dec.itertuples()
        }
        want = {(s, b, tot, n, tot / n) for s, b, tot, n, _, _ in self.want_1h}
        expect(len(dec) == len(got) and got == want, "decoded 1h streams differ from DuckDB 1h")

    def final(self) -> None:
        pass

    # -- reporting ------------------------------------------------------------------
    def report(self, op_times: list[float]) -> dict[str, tuple[float, str]]:
        import statistics

        merges = [
            a + b for a, b in zip(self.tr.durations("incremental.merge_rollup"), self.tr.durations("incremental.merge_hist"))
        ]
        queries = self.tr.durations("query")
        out = {
            "merge_s_p50": (statistics.median(merges), "s"),
            "query_s_p50": (statistics.median(queries), "s"),
            "late_file_share": (self.late_files / len(op_times), "ratio"),
        }
        if len(queries) >= 100:
            out["query_s_p90"] = (statistics.quantiles(queries, n=10)[-1], "s")
        return out

    def layer_counts(self) -> dict[str, tuple[float, str]]:
        return {"incremental.store_files": (float(self.store_files[-1]), "count")}
