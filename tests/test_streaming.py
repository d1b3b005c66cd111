"""Incremental rollup maintenance and Structured Streaming ingestion tests
(SURVEY §2.10: watermark-per-bucket, batch-incremental recomputation)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rasusa_spark.operators.rollup import rollup
from rasusa_spark.streaming.incremental import merge_increment, streaming_rollup
from rasusa_spark.synth import TOKENS_SCHEMA, tokens_raw_df


@pytest.fixture(scope="module")
def raw4k(spark):
    df = tokens_raw_df(spark, 4000, with_tokens=False, partitions=4).cache()
    df.count()
    return df


def _rows(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "source", "bucket_start", "n_tok_sum", "row_count", "n_tok_min", "n_tok_max"
        ).collect()
    )


def test_incremental_merge_equals_batch(spark, raw4k, tmp_path):
    """Folding two increments must equal one batch rollup bit-for-bit."""
    state = str(tmp_path / "state")
    first = raw4k.where(F.col("row_idx") < 2000)
    second = raw4k.where(F.col("row_idx") >= 2000)
    merge_increment(spark, "rollup", first, state, tier="1h")
    merged = merge_increment(spark, "rollup", second, state, tier="1h", allow_late=True)
    batch = rollup(raw4k, "1h")
    assert _rows(merged) == _rows(batch)


def test_incremental_merge_touches_only_changed_partitions(spark, raw4k, tmp_path):
    """O(delta) maintenance (round-1 weak #5 regression): merging an
    increment that touches only the LATER days must not rewrite the earlier
    days' partition files (checked by path+mtime), and the merged tier must
    still equal the batch rollup bit-for-bit."""
    import glob
    import os

    state = str(tmp_path / "state")
    days = sorted(r[0] for r in raw4k.select(F.to_date("ts")).distinct().collect())
    cut = days[len(days) // 2]
    first = raw4k.where(F.to_date("ts") < F.lit(str(cut)))
    second = raw4k.where(F.to_date("ts") >= F.lit(str(cut)))
    merge_increment(spark, "rollup", first, state, tier="1h")
    store = os.path.join(state, "rollup_1h")

    def snapshot():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{store}/bucket_part=*/*.parquet")
        }

    before = snapshot()
    assert before, "first merge wrote no partition files"
    merged = merge_increment(spark, "rollup", second, state, tier="1h")
    after = snapshot()
    untouched = {d.strftime("%Y%m%d") for d in days if d < cut}
    checked = 0
    for p, mtime in before.items():
        part = p.split("bucket_part=")[1].split("/")[0]
        if part in untouched:
            assert p in after and after[p] == mtime, f"untouched partition rewritten: {p}"
            checked += 1
    assert checked > 0, "no untouched partitions to verify"
    assert _rows(merged) == _rows(rollup(raw4k, "1h"))


def test_incremental_rejects_late_buckets(spark, raw4k, tmp_path):
    state = str(tmp_path / "state")
    # row_idx split correlates with ts only weakly, so late buckets exist
    merge_increment(
        spark, "rollup", raw4k.where(F.col("row_idx") < 2000), state, tier="1h"
    )
    with pytest.raises(ValueError, match="late bucket"):
        merge_increment(
            spark, "rollup", raw4k.where(F.col("row_idx") >= 2000), state, tier="1h"
        )


def test_stateful_streaming_budget(spark, raw4k, tmp_path):
    """applyInPandasWithState budget cap: state carries kept-token totals
    across micro-batches; per-bucket kept sums satisfy the crossing rule."""
    from rasusa_spark.streaming.stateful import streaming_budget_downsample
    from rasusa_spark.synth import TOKENS_SCHEMA

    inp = str(tmp_path / "sin")
    # two files → (with maxFilesPerTrigger=1) two micro-batches sharing state
    raw4k.where(F.col("row_idx") < 2000).coalesce(1).write.parquet(f"{inp}/a")
    raw4k.where(F.col("row_idx") >= 2000).coalesce(1).write.parquet(f"{inp}/b")
    budget = 100_000
    q = streaming_budget_downsample(
        spark,
        f"{inp}/*",
        str(tmp_path / "sck"),
        str(tmp_path / "sout"),
        schema=TOKENS_SCHEMA,
        budget=budget,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "sout"))
    got = (
        out.groupBy("source", "bucket_start")
        .agg(F.sum("n_tok").alias("s"), F.max("n_tok").alias("m"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    totals = {
        (r.source, r.b): r.t
        for r in raw4k.select(
            "source", F.date_trunc("day", "ts").alias("b"), "n_tok"
        )
        .groupBy("source", "b")
        .agg(F.sum("n_tok").alias("t"))
        .collect()
    }
    assert got, "stateful stream kept nothing"
    for r in got:
        total = totals[(r.source, r.bucket_start)]
        if total <= budget:
            assert r.s == total  # under-budget bucket keeps everything
        else:
            assert budget <= r.s < budget + r.m  # crossing row kept, then stop


def test_structured_streaming_rollup(spark, raw4k, tmp_path):
    """availableNow streaming run over a file source produces closed-bucket
    aggregates matching the batch rollup for those buckets."""
    inp = str(tmp_path / "in")
    raw4k.write.mode("overwrite").parquet(inp)
    q = streaming_rollup(
        spark,
        inp,
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
        schema=TOKENS_SCHEMA,
        tier="1h",
        watermark="1 hour",
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    batch = rollup(raw4k, "1h")
    got = _rows(out)
    # append mode emits only buckets closed by the final watermark
    want = {r[:2]: r for r in _rows(batch)}
    assert len(got) > 0
    for row in got:
        assert want[row[:2]] == row, f"streaming bucket {row[:2]} != batch"


def test_budget_kernel_vectorized_semantics_and_speed():
    """The micro-batch budget kernel (streaming/stateful._budget_fn) is
    cumsum+searchsorted, not a per-row Python loop (VERDICT r2 wrong #1):
    semantics match a row-wise reference on randomized batches (crossing
    row kept, state carried across batches), and 1M rows decide in well
    under a second — impossible at itertuples interpreter cost."""
    import time

    import numpy as np
    import pandas as pd

    from rasusa_spark.streaming.stateful import _budget_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = v

    rng = np.random.RandomState(3)

    def reference(batches, budget):
        kept_tokens, out = 0, []
        for pdf in batches:
            for n in pdf["n_tok"]:
                if kept_tokens >= budget:
                    break
                out.append(n)
                kept_tokens += int(n)
        return out

    for trial in range(20):
        sizes = rng.randint(0, 40, size=3)
        batches = [
            pd.DataFrame({"n_tok": rng.randint(0, 50, size=s).astype("int32")})
            for s in sizes
        ]
        budget = int(rng.randint(1, 800))
        state = FakeState()
        got = [
            int(v)
            for out in _budget_fn(budget)(None, iter(batches), state)
            for v in out["n_tok"]
        ]
        want = reference(batches, budget)
        assert got == want, f"trial {trial}: {got} != {want}"
        assert state.get == (len(want), sum(want))

    big = pd.DataFrame({"n_tok": rng.randint(1, 50, size=1_000_000).astype("int32")})
    budget = int(big["n_tok"].sum())  # worst case: keep everything
    # min-of-3: a single sample flakes when the shared suite JVM is busy
    # (VERDICT r3 flagged exactly this); the vectorization property is the
    # BEST wall, not the window's worst
    best = None
    for _ in range(3):
        state = FakeState()
        t0 = time.perf_counter()
        out = list(_budget_fn(budget)(None, iter([big]), state))
        dt = time.perf_counter() - t0
        assert sum(len(o) for o in out) == len(big)
        best = dt if best is None else min(best, dt)
    assert best < 1.0, f"1M-row decide took {best:.2f}s — kernel is not vectorized"


def test_incremental_histogram_merge_equals_batch(spark, raw4k, tmp_path):
    """The sketch tier gets the same O(delta) maintenance as the sum tier:
    folding two increments of log2-histogram sketches must equal the
    one-shot batch sketch bit-for-bit (elementwise bin addition is exactly
    associative), and late buckets hit the same watermark guard."""
    import pytest as _pytest

    from rasusa_spark.functions.histsketch import histogram_rollup

    state = str(tmp_path / "hstate")
    first = raw4k.where(F.col("row_idx") < 2000)
    second = raw4k.where(F.col("row_idx") >= 2000)
    merge_increment(spark, "hist", first, state, tier="1h")
    merged = merge_increment(
        spark, "hist", second, state, tier="1h", allow_late=True
    )
    batch = histogram_rollup(raw4k, "1h")
    got = sorted(
        (r.source, r.bucket_start, tuple(r.hist)) for r in merged.collect()
    )
    want = sorted(
        (r.source, r.bucket_start, tuple(r.hist)) for r in batch.collect()
    )
    assert got == want and len(got) > 0
    # late buckets (behind the per-group watermark) are rejected by default
    with _pytest.raises(ValueError, match="late"):
        merge_increment(spark, "hist", first, state, tier="1h")


def test_stream_flow_kill_resume(spark, raw4k, tmp_path):
    """End-to-end flow (scripts/stream_flow.py): stream -> stateful budget
    -> incremental 1h/1d + histogram tiers, interrupted after half the
    input (simulating a kill between drains) and resumed. The Structured
    Streaming checkpoint must prevent any re-processing, the budget state
    must carry across runs, the merged-files manifest must fold each
    retained file into the tiers exactly once, and the final tiers must
    bit-equal a direct re-aggregation of the retained set."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "stream_flow",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "stream_flow.py"),
    )
    flow = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(flow)

    inp = str(tmp_path / "fin")
    work = str(tmp_path / "fwork")
    budget = 100_000
    # run 1: only the first half of the input exists ("crash" before the rest)
    raw4k.where(F.col("row_idx") < 1000).coalesce(1).write.parquet(f"{inp}/a")
    raw4k.where((F.col("row_idx") >= 1000) & (F.col("row_idx") < 2000)).coalesce(
        1
    ).write.parquet(f"{inp}/b")
    s1 = flow.run_flow(spark, f"{inp}/*", work, budget)
    assert s1["new_files_merged"] > 0
    n_retained_1 = spark.read.parquet(f"{work}/retained").count()

    # run 2: the rest of the input arrives; resume
    raw4k.where((F.col("row_idx") >= 2000) & (F.col("row_idx") < 3000)).coalesce(
        1
    ).write.parquet(f"{inp}/c")
    raw4k.where(F.col("row_idx") >= 3000).coalesce(1).write.parquet(f"{inp}/d")
    s2 = flow.run_flow(spark, f"{inp}/*", work, budget)
    retained = spark.read.parquet(f"{work}/retained")

    # no reprocessing: run-1 rows still present exactly once, never re-kept
    first_half = retained.where(F.col("doc_id").isin(
        [r.doc_id for r in raw4k.where(F.col("row_idx") < 2000).select("doc_id").collect()]
    ))
    assert retained.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0
    assert first_half.count() == n_retained_1

    # budget invariants over the WHOLE input (state carried across runs)
    got = (
        retained.groupBy("source", "bucket_start")
        .agg(F.sum("n_tok").alias("s"), F.max("n_tok").alias("m"))
        .collect()
    )
    totals = {
        (r.source, r.b): r.t
        for r in raw4k.select("source", F.date_trunc("day", "ts").alias("b"), "n_tok")
        .groupBy("source", "b")
        .agg(F.sum("n_tok").alias("t"))
        .collect()
    }
    for r in got:
        total = totals[(r.source, r.bucket_start)]
        if total <= budget:
            assert r.s == total
        else:
            assert budget <= r.s < budget + r.m

    # tiers across two incremental runs == direct re-aggregation (bit-equal)
    stored_1h = spark.read.parquet(f"{work}/state/rollup_1h").drop(
        "bucket_part", "gap_filled"
    )
    direct_1h = rollup(retained, "1h").drop("gap_filled")
    assert _rows(stored_1h) == _rows(direct_1h)
    stored_1d = spark.read.parquet(f"{work}/state/rollup_1d").drop(
        "bucket_part", "gap_filled"
    )
    assert _rows(stored_1d) == _rows(rollup(retained, "1d").drop("gap_filled"))
    from rasusa_spark.functions.histsketch import histogram_rollup

    stored_h = sorted(
        (r.source, r.bucket_start, tuple(r.hist))
        for r in spark.read.parquet(f"{work}/state/hist_1h").collect()
    )
    direct_h = sorted(
        (r.source, r.bucket_start, tuple(r.hist))
        for r in histogram_rollup(retained, "1h").collect()
    )
    assert stored_h == direct_h

    # run 3: nothing new -> pure no-op (idempotent)
    s3 = flow.run_flow(spark, f"{inp}/*", work, budget)
    assert s3["new_files_merged"] == 0


def test_incremental_distinct_merge_equals_batch_and_idempotent(
    spark, raw4k, tmp_path
):
    """Exact distinct tier: two increments == one batch (identical SETS),
    and re-delivering an already-merged increment (at-least-once upstream)
    changes nothing — set union is idempotent, the property the sum tier
    cannot have."""
    from rasusa_spark.functions.distinct import distinct_partials

    state = str(tmp_path / "dstate")
    first = raw4k.where(F.col("row_idx") < 2000)
    second = raw4k.where(F.col("row_idx") >= 2000)
    merge_increment(spark, "distinct", first, state, tier="1h")
    merged = merge_increment(
        spark, "distinct", second, state, tier="1h", allow_late=True
    )
    batch = distinct_partials(raw4k, "1h")
    key = lambda df: sorted(
        (r.source, r.bucket_start, tuple(r.id_set), r.n_distinct)
        for r in df.collect()
    )
    assert key(merged) == key(batch) and len(key(batch)) > 0
    # idempotence under redelivery
    again = merge_increment(
        spark, "distinct", second, state, tier="1h", allow_late=True
    )
    assert key(again) == key(batch)


def test_incremental_cms_merge_equals_batch(spark, raw4k, tmp_path):
    """CMS tier: folding two increments lands on the identical sketch
    cells (cell-wise addition is exactly associative)."""
    from rasusa_spark.functions.cms import cms_partials

    state = str(tmp_path / "cstate")
    first = raw4k.where(F.col("row_idx") < 2000)
    second = raw4k.where(F.col("row_idx") >= 2000)
    merge_increment(spark, "cms", first, state, tier="1h")
    merged = merge_increment(
        spark, "cms", second, state, tier="1h", allow_late=True
    )
    batch = cms_partials(raw4k, "1h")
    key = lambda df: sorted(
        (r.source, r.bucket_start, r.r, r.idx, r.cnt) for r in df.collect()
    )
    assert key(merged) == key(batch) and len(key(batch)) > 0


def test_stream_flow_distinct_and_cms_tiers(spark, raw4k, tmp_path):
    """The round-4 carriers ride the same flow: after two incremental
    runs, the stored distinct_1h and cms_1h states equal direct
    re-aggregation of the retained set (set union idempotent; cell-wise
    addition associative)."""
    import scripts.stream_flow as flow
    from rasusa_spark.functions.cms import cms_partials
    from rasusa_spark.functions.distinct import distinct_partials

    inp = str(tmp_path / "in")
    work = str(tmp_path / "wk")
    budget = 60_000
    raw = raw4k.drop("tokens") if "tokens" in raw4k.columns else raw4k
    raw.where(F.col("row_idx") < 2000).coalesce(1).write.parquet(f"{inp}/a")
    flow.run_flow(spark, f"{inp}/*", work, budget)
    raw.where(F.col("row_idx") >= 2000).coalesce(1).write.parquet(f"{inp}/b")
    flow.run_flow(spark, f"{inp}/*", work, budget)

    retained = spark.read.parquet(f"{work}/retained")
    stored_d = spark.read.parquet(f"{work}/state/distinct_1h").drop("bucket_part")
    direct_d = distinct_partials(retained, "1h", id_col="doc_id")
    key_d = lambda df: sorted(
        (r.source, r.bucket_start, tuple(r.id_set), r.n_distinct)
        for r in df.collect()
    )
    assert key_d(stored_d) == key_d(direct_d) and len(key_d(direct_d)) > 0

    stored_c = spark.read.parquet(f"{work}/state/cms_1h").drop("bucket_part")
    direct_c = cms_partials(retained, "1h", item_col="doc_id")
    key_c = lambda df: sorted(
        (r.source, r.bucket_start, r.r, r.idx, r.cnt) for r in df.collect()
    )
    assert key_c(stored_c) == key_c(direct_c)


def test_streaming_sessionize_equals_batch(spark, raw4k, tmp_path):
    """session_window in a watermarked availableNow stream emits exactly
    the batch sessionization of the same input (every session closes once
    the input drains) — the payoff of building sessionize on the built-in
    operator: identical semantics in both modes."""
    from rasusa_spark.operators.timeseries import sessionize
    from rasusa_spark.streaming.incremental import streaming_sessionize

    inp = str(tmp_path / "sin")
    raw = raw4k.drop("tokens") if "tokens" in raw4k.columns else raw4k
    raw.coalesce(2).write.parquet(inp)
    schema = spark.read.parquet(inp).schema
    args = (spark, inp, str(tmp_path / "sck"), str(tmp_path / "sout"))
    kw = dict(gap="30 minutes", user_col="source")
    streaming_sessionize(*args, schema, **kw).awaitTermination()
    emitted_1 = spark.read.parquet(str(tmp_path / "sout")).count()

    # append-mode contract: sessions still within the watermark horizon
    # stay in state. A far-future flush row advances the GLOBAL watermark
    # on the next drain (same checkpoint — resume), closing every real
    # session; the flush session itself is filtered out of the compare.
    import datetime as _dt

    far = spark.createDataFrame(
        [("zzz_flush", "f0", 0, _dt.datetime(2027, 1, 1), 10**9)],
        schema="source string, doc_id string, n_tok int, ts timestamp, row_idx long",
    ).select(*[f.name for f in schema.fields])
    far.write.mode("append").parquet(inp)
    streaming_sessionize(*args, schema, **kw).awaitTermination()

    out = spark.read.parquet(str(tmp_path / "sout")).where(
        F.col("source") != "zzz_flush"
    )
    got = sorted(
        (r.source, r.session_start, r.session_end, r.n_events)
        for r in out.collect()
    )
    want = sorted(
        (r.source, r.session_start, r.session_end, r.n_events)
        for r in sessionize(raw, "30 minutes", user_col="source").collect()
    )
    assert got == want and len(want) > 0
    assert emitted_1 < len(want)  # the tail really was held back by the wm


def test_streaming_sliding_rollup_equals_batch(spark, raw4k, tmp_path):
    """F.window(width, slide) emits identical hopping windows in streaming
    (append mode, two drains with a watermark-advancing flush row) and in
    the batch rollup_sliding operator."""
    import datetime as _dt

    from rasusa_spark.operators.timeseries import rollup_sliding
    from rasusa_spark.streaming.incremental import streaming_sliding_rollup

    inp = str(tmp_path / "win")
    raw = raw4k.drop("tokens") if "tokens" in raw4k.columns else raw4k
    raw.coalesce(2).write.parquet(inp)
    schema = spark.read.parquet(inp).schema
    args = (spark, inp, str(tmp_path / "wck"), str(tmp_path / "wout"))
    streaming_sliding_rollup(*args, schema).awaitTermination()
    far = spark.createDataFrame(
        [("zzz_flush", "f0", 0, _dt.datetime(2027, 1, 1), 10**9)],
        schema="source string, doc_id string, n_tok int, ts timestamp, row_idx long",
    ).select(*[f.name for f in schema.fields])
    far.write.mode("append").parquet(inp)
    streaming_sliding_rollup(*args, schema).awaitTermination()

    out = spark.read.parquet(str(tmp_path / "wout")).where(
        F.col("source") != "zzz_flush"
    )
    got = sorted(
        (r.source, r.window_start, r.window_end, r.n_tok_sum, r.row_count)
        for r in out.collect()
    )
    want = sorted(
        (r.source, r.window_start, r.window_end, r.n_tok_sum, r.row_count)
        for r in rollup_sliding(raw, 3600, 900).select(
            "source", "window_start", "window_end", "n_tok_sum", "row_count"
        ).collect()
    )
    assert got == want and len(want) > 0


def test_stream_flow_tier_retention(spark, raw4k, tmp_path):
    """run_flow(drop_fine_before=...) drops covered 1h bucket-day
    partitions at the job level; the 1d store and retained data stay."""
    import scripts.stream_flow as flow

    inp = str(tmp_path / "rin")
    work = str(tmp_path / "rwk")
    raw = raw4k.drop("tokens") if "tokens" in raw4k.columns else raw4k
    raw.coalesce(1).write.parquet(f"{inp}/a")
    flow.run_flow(spark, f"{inp}/*", work, 60_000)
    h1 = spark.read.parquet(f"{work}/state/rollup_1h")
    days = sorted(
        str(r.bucket_part)
        for r in h1.select("bucket_part").distinct().collect()
    )
    assert len(days) >= 3
    cd = days[2]
    cutoff = f"{cd[:4]}-{cd[4:6]}-{cd[6:]} 00:00:00"
    stats = flow.run_flow(
        spark, f"{inp}/*", work, 60_000, drop_fine_before=cutoff
    )
    assert stats["tier_partitions_dropped"] == 2
    left = sorted(
        str(r.bucket_part)
        for r in spark.read.parquet(f"{work}/state/rollup_1h")
        .select("bucket_part").distinct().collect()
    )
    assert left == days[2:]
    assert spark.read.parquet(f"{work}/state/rollup_1d").count() > 0


def test_streaming_counter_increase_equals_batch(spark, tmp_path):
    """Per-series stateful reset-aware deltas across micro-batches: with
    in-order (scrape-order) arrival, the streamed per-sample increases
    bucket-aggregate to exactly the batch counter_increase result —
    including deltas that SPAN the micro-batch boundary (carried state)."""
    import datetime as _dt

    import numpy as np

    from pyspark.sql import types as T

    from rasusa_spark.operators.timeseries import (
        counter_increase,
        time_bucket_expr,
    )
    from rasusa_spark.streaming.stateful import streaming_counter_increase

    rng = np.random.default_rng(19)
    t0 = _dt.datetime(2026, 6, 1)
    rows = []
    eid = 0
    for s in ("a", "b", "c"):
        t = 0
        for _ in range(400):
            t += int(rng.integers(10, 600))
            rows.append((s, eid, t0 + _dt.timedelta(seconds=t),
                         int(rng.integers(0, 5000))))
            eid += 1
    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("n_tok", T.IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)
    cut = t0 + _dt.timedelta(seconds=40_000)
    inp = str(tmp_path / "cin")
    df.where(F.col("ts") < F.lit(cut)).coalesce(1).write.parquet(f"{inp}/a")
    df.where(F.col("ts") >= F.lit(cut)).coalesce(1).write.parquet(f"{inp}/b")

    q = streaming_counter_increase(
        spark, f"{inp}/*", str(tmp_path / "cck"), str(tmp_path / "cout"),
        schema, series_col="event_type", max_files_per_trigger=1,
    )
    q.awaitTermination()

    streamed = (
        spark.read.parquet(str(tmp_path / "cout"))
        .groupBy(
            F.col("series").alias("event_type"),
            time_bucket_expr(3600, "ts").alias("bucket_start"),
        )
        .agg(
            F.sum("inc").alias("increase"),
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("is_reset").alias("n_resets"),
        )
    )
    batch = counter_increase(
        df, 3600, series_cols=("event_type",), value_col="n_tok",
        id_col="event_id",
    )
    key = lambda d: sorted(
        (r.event_type, r.bucket_start, r.increase, r.n_samples, r.n_resets)
        for r in d.collect()
    )
    assert key(streamed) == key(batch.select(
        "event_type", "bucket_start", "increase", "n_samples", "n_resets"
    )) and len(key(batch)) > 0


def test_streaming_twa_equals_batch(spark, tmp_path):
    """Streamed LOCF segments aggregate to the exact batch
    time_weighted_avg per (series, hour bucket), including segments whose
    completing sample arrives in a later micro-batch."""
    import datetime as _dt

    import numpy as np

    from pyspark.sql import types as T

    from rasusa_spark.operators.timeseries import (
        time_bucket_expr,
        time_weighted_avg,
    )
    from rasusa_spark.streaming.stateful import streaming_twa

    rng = np.random.default_rng(29)
    t0 = _dt.datetime(2026, 7, 6)
    rows, eid = [], 0
    for s in ("a", "b"):
        t = 0
        for _ in range(300):
            t += int(rng.integers(10, 900))
            rows.append((s, eid, t0 + _dt.timedelta(seconds=t),
                         int(rng.integers(0, 5000))))
            eid += 1
    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("n_tok", T.IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)
    cut = t0 + _dt.timedelta(seconds=40_000)
    inp = str(tmp_path / "tin")
    df.where(F.col("ts") < F.lit(cut)).coalesce(1).write.parquet(f"{inp}/a")
    df.where(F.col("ts") >= F.lit(cut)).coalesce(1).write.parquet(f"{inp}/b")

    q = streaming_twa(
        spark, f"{inp}/*", str(tmp_path / "tck"), str(tmp_path / "tout"),
        schema, width_s=3600, series_col="event_type",
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    raw = spark.read.parquet(str(tmp_path / "tout"))
    segs = raw.groupBy(
        "series", F.timestamp_micros(F.col("seg_bucket_xu")).alias("bucket_start")
    ).agg(F.sum("seg").alias("num"), F.sum("gap").alias("den"))
    samples = raw.groupBy(
        "series", time_bucket_expr(3600, "ts").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.min(
            F.struct(
                F.unix_micros(F.col("ts").cast("timestamp")).alias("x"),
                F.col("event_id").alias("i"),
                F.col("val").alias("v"),
            )
        ).alias("_first"),
    )
    streamed = samples.join(segs, on=["series", "bucket_start"], how="left").select(
        F.col("series").alias("event_type"),
        F.col("bucket_start").cast("timestamp_ntz").alias("bucket_start"),
        F.when(
            F.coalesce(F.col("den"), F.lit(0)) == 0,
            F.col("_first.v").cast("double"),
        )
        .otherwise(F.col("num").cast("double") / F.col("den").cast("double"))
        .alias("twa"),
        "n_samples",
    )
    batch = time_weighted_avg(
        df, 3600, series_cols=("event_type",), value_col="n_tok",
        id_col="event_id",
    )
    key = lambda d: sorted(
        (r.event_type, r.bucket_start, r.twa, r.n_samples) for r in d.collect()
    )
    assert key(streamed) == key(batch) and len(key(batch)) > 0


def _load_flow():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "stream_flow",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "stream_flow.py"),
    )
    flow = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(flow)
    return flow


def _tier_rows(spark, work, store):
    df = spark.read.parquet(f"{work}/state/{store}")
    # sort columns by name: parquet read-back order depends on which file's
    # footer Spark samples (first-write inc order vs remerge's cnt-last)
    cols = sorted(c for c in df.columns if c != "bucket_part")
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_flow_merge_crash_no_double_count(spark, raw4k, tmp_path, monkeypatch):
    """ADVICE r4: a crash BETWEEN a store's merge and its manifest write
    must not double-count the non-idempotent sum/hist/CMS carriers on
    resume. Two injected crash points against a single-run reference:

    (a) crash after the transaction is PREPARED (staging+intent durable)
        but before the promote touches the store — recover_pending rolls
        it forward exactly once on the next run;
    (b) crash after the promote fully applied but before the intent is
        cleaned — the replay on the next run must be idempotent.
    """
    import os

    import rasusa_spark.streaming.incremental as inc_mod

    flow = _load_flow()
    budget = 100_000

    # single-shot reference tiers over the full input — SAME file layout
    # and arrival order as the crashed path (the budget sampler's retained
    # set depends on arrival order, so the layouts must match byte-wise)
    ref_inp, ref_work = str(tmp_path / "rin"), str(tmp_path / "rwork")
    raw4k.where(F.col("row_idx") < 2000).coalesce(1).write.parquet(f"{ref_inp}/a")
    raw4k.where(F.col("row_idx") >= 2000).coalesce(1).write.parquet(f"{ref_inp}/b")
    flow.run_flow(spark, f"{ref_inp}/*", ref_work, budget)

    inp, work = str(tmp_path / "cin"), str(tmp_path / "cwork")
    raw4k.where(F.col("row_idx") < 2000).coalesce(1).write.parquet(f"{inp}/a")
    flow.run_flow(spark, f"{inp}/*", work, budget)

    # the rest arrives; crash point (a): _txn_promote dies for rollup_1h
    raw4k.where(F.col("row_idx") >= 2000).coalesce(1).write.parquet(f"{inp}/b")
    real_promote = inc_mod._txn_promote

    def dying_promote(spark_, state_path, store_name):
        if store_name == "rollup_1h":
            raise RuntimeError("injected crash before promote")
        return real_promote(spark_, state_path, store_name)

    monkeypatch.setattr(inc_mod, "_txn_promote", dying_promote)
    with pytest.raises(RuntimeError, match="injected crash"):
        flow.run_flow(spark, f"{inp}/*", work, budget)
    monkeypatch.setattr(inc_mod, "_txn_promote", real_promote)
    # the prepared-but-unpromoted txn is visible on disk
    assert os.path.exists(f"{work}/state/rollup_1h_txn_intent/_SUCCESS")

    # crash point (b) on the NEXT run: hist_1h promotes fully but its
    # cleanup never happens (intent survives → replay on the run after)
    real_cleanup = inc_mod._txn_cleanup

    def skipping_cleanup(spark_, state_path, store_name):
        if store_name == "hist_1h":
            return  # simulate dying after manifest write, before commit
        return real_cleanup(spark_, state_path, store_name)

    monkeypatch.setattr(inc_mod, "_txn_cleanup", skipping_cleanup)
    flow.run_flow(spark, f"{inp}/*", work, budget)
    monkeypatch.setattr(inc_mod, "_txn_cleanup", real_cleanup)
    assert os.path.exists(f"{work}/state/hist_1h_txn_intent/_SUCCESS")

    # final run: replays hist_1h's committed txn idempotently, merges
    # nothing new anywhere else
    stats = flow.run_flow(spark, f"{inp}/*", work, budget)
    assert stats["new_files_merged"] == 0
    assert not os.path.exists(f"{work}/state/hist_1h_txn_intent")

    for store in ["rollup_1h", "hist_1h", "rollup_1d", "distinct_1h", "cms_1h"]:
        assert _tier_rows(spark, work, store) == _tier_rows(
            spark, ref_work, store
        ), f"{store} diverged from the single-run reference after crashes"

    # arrival-order-independent double-count check: the stored 1h tier
    # must equal a direct re-aggregation of the retained rows
    from rasusa_spark.operators.rollup import rollup

    retained = spark.read.parquet(f"{work}/retained")
    assert _rows(spark.read.parquet(f"{work}/state/rollup_1h")) == _rows(
        rollup(retained.drop("bucket_start"), "1h")
    )


# ---------------------------------------------------------------------------
# O(delta) incremental minhash dedup (VERDICT r4 Next #8)


@pytest.fixture(scope="module")
def doubled_docs(spark):
    """sf0.001 documents + exact clones (doc_id + 100000): guarantees
    cross-increment near-dup pairs at est_jaccard 1.0 on top of the
    corpus's natural near-dups."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 100000)).cache()
    df.count()
    return df


def _pairs_rows(df):
    return sorted((r.id_a, r.id_b, r.est_jaccard) for r in df.collect())


def test_incremental_minhash_equals_batch_kill_resume(
    spark, doubled_docs, tmp_path, monkeypatch
):
    """The Next-#8 contract: new-file signatures merged into the persisted
    store + incremental band join against it, interrupted by an injected
    crash mid-transaction, must end bit-equal to batch minhash_lsh_pairs
    over the union corpus — pairs, est_jaccard values and all."""
    import glob
    import os

    import rasusa_spark.streaming.dedup_inc as dd
    from rasusa_spark.operators.dedup import (
        minhash_lsh_pairs,
        release_dedup_caches,
    )

    state = str(tmp_path / "state")
    inp = str(tmp_path / "docs")
    median = 50000  # originals are < 100000; split them at ~half
    originals = doubled_docs.where(F.col("doc_id") < 100000)
    med = sorted(r.doc_id for r in originals.select("doc_id").collect())
    med = med[len(med) // 2]
    # inc1: first half of originals; inc2: rest of originals + clones of
    # the first half (cross-increment pairs!); inc3: clones of the rest
    slices = {
        "a": doubled_docs.where(F.col("doc_id") < med),
        "b": doubled_docs.where(
            (F.col("doc_id") >= med) & (F.col("doc_id") < 100000)
            | (F.col("doc_id") >= 100000) & (F.col("doc_id") < 100000 + med)
        ),
        "c": doubled_docs.where(F.col("doc_id") >= 100000 + med),
    }
    files = {}
    for k, sl in slices.items():
        sl.coalesce(1).write.parquet(f"{inp}/{k}")
        files[k] = sorted(glob.glob(f"{inp}/{k}/*.parquet"))

    # increment 1
    dd.merge_minhash_increment(
        spark, spark.read.parquet(*files["a"]), state, files=files["a"]
    )
    band_files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{state}/minhash_store/bands/txn=*/shard=*/*.parquet")
    }
    assert band_files_before, "increment 1 wrote no band files"

    # increment 2 dies AFTER the intent commits, BEFORE the promote
    real_promote = dd._txn_promote_dedup

    def dying_promote(spark_, state_path_):
        raise RuntimeError("injected crash before dedup promote")

    monkeypatch.setattr(dd, "_txn_promote_dedup", dying_promote)
    with pytest.raises(RuntimeError, match="injected crash"):
        dd.merge_minhash_increment(
            spark, spark.read.parquet(*files["b"]), state, files=files["b"]
        )
    monkeypatch.setattr(dd, "_txn_promote_dedup", real_promote)
    assert os.path.exists(f"{state}/minhash_txn_intent/_SUCCESS")

    # resume: the prepared txn rolls forward exactly once; re-merging the
    # same files afterwards is refused (manifest guard)
    assert dd.recover_pending_dedup(spark, state) is True
    assert not os.path.exists(f"{state}/minhash_txn_intent")
    with pytest.raises(ValueError, match="already in the minhash manifest"):
        dd.merge_minhash_increment(
            spark, spark.read.parquet(*files["b"]), state, files=files["b"]
        )

    # increment 3 (store geometry change must be refused first)
    with pytest.raises(ValueError, match="geometry mismatch"):
        dd.merge_minhash_increment(
            spark,
            spark.read.parquet(*files["c"]),
            state,
            files=files["c"],
            n_bands=16,
        )
    got = dd.merge_minhash_increment(
        spark, spark.read.parquet(*files["c"]), state, files=files["c"]
    )

    # O(delta): increments never rewrite earlier txns' band files
    for p, mtime in band_files_before.items():
        assert os.path.getmtime(p) == mtime, f"prior txn band rewritten: {p}"

    # the union of incrementally-emitted pairs == batch LSH over the whole
    # corpus, bit-equal (same signature/banding/agreement expressions)
    batch = minhash_lsh_pairs(doubled_docs, n_perm=64, n_bands=32, threshold=0.5)
    assert _pairs_rows(got) == _pairs_rows(batch)
    release_dedup_caches()
    # clone pairs all present at est 1.0
    clone_pairs = {(a, b) for a, b, e in _pairs_rows(got) if e == 1.0}
    n_docs = doubled_docs.count() // 2
    ids = [r.doc_id for r in doubled_docs.where(F.col("doc_id") < 100000).select("doc_id").collect()]
    missing = [i for i in ids if (i, i + 100000) not in clone_pairs]
    assert not missing


def test_stream_flow_dedup_stage(spark, doubled_docs, tmp_path):
    """Job-level wiring: run_flow with --dedup-input folds unseen document
    files across two runs; the final pairs store equals batch LSH and the
    third run is a pure no-op."""
    import glob

    from rasusa_spark.operators.dedup import (
        minhash_lsh_pairs,
        release_dedup_caches,
    )
    from rasusa_spark.streaming.dedup_inc import minhash_pairs_store
    from rasusa_spark.synth import tokens_raw_df

    flow = _load_flow()
    inp = str(tmp_path / "fin")
    docs_in = str(tmp_path / "fdocs")
    work = str(tmp_path / "fwork")
    raw = tokens_raw_df(spark, 500, with_tokens=False, partitions=2)
    raw.coalesce(1).write.parquet(f"{inp}/a")

    half = doubled_docs.where(F.col("doc_id") < 100000)
    rest = doubled_docs.where(F.col("doc_id") >= 100000)
    half.coalesce(1).write.parquet(f"{docs_in}/a")
    s1 = flow.run_flow(
        spark, f"{inp}/*", work, 100_000, dedup_input=docs_in
    )
    assert s1["dedup_files_merged"] == 1

    rest.coalesce(1).write.parquet(f"{docs_in}/b")
    s2 = flow.run_flow(
        spark, f"{inp}/*", work, 100_000, dedup_input=docs_in
    )
    assert s2["dedup_files_merged"] == 1

    got = minhash_pairs_store(spark, f"{work}/state")
    batch = minhash_lsh_pairs(doubled_docs, n_perm=64, n_bands=32, threshold=0.5)
    assert _pairs_rows(got) == _pairs_rows(batch)
    release_dedup_caches()

    s3 = flow.run_flow(spark, f"{inp}/*", work, 100_000, dedup_input=docs_in)
    assert s3["dedup_files_merged"] == 0
    assert s3["dedup_pairs_total"] == s2["dedup_pairs_total"]


def test_incremental_deriv_merge_equals_batch(spark, raw4k, tmp_path):
    """Regression tier: folding two increments must equal one batch
    deriv_partials bit-for-bit (integer moment addition is exactly
    associative), and the finalized slopes must match gauge_deriv on
    the union."""
    from rasusa_spark.operators.timeseries import (
        _deriv_finalize,
        gauge_deriv,
    )

    state = str(tmp_path / "state")
    first = raw4k.where(F.col("row_idx") < 2000)
    second = raw4k.where(F.col("row_idx") >= 2000)
    merge_increment(spark, "deriv", first, state, tier="1h")
    merged = merge_increment(
        spark, "deriv", second, state, tier="1h", allow_late=True
    )
    stats = sorted(
        (r.source, r.bucket_start, r.n_samples, r._st, r._sv, r._stv, r._stt)
        for r in merged.collect()
    )
    from rasusa_spark.operators.timeseries import deriv_partials

    batch = sorted(
        (r.source, r.bucket_start, r.n_samples, r._st, r._sv, r._stv, r._stt)
        for r in deriv_partials(raw4k, 3600).collect()
    )
    assert stats == batch
    got = {
        (r.source, r.bucket_start): (r.n_samples, r.slope_per_s)
        for r in _deriv_finalize(merged, ("source",)).collect()
    }
    exp = {
        (r.source, r.bucket_start): (r.n_samples, r.slope_per_s)
        for r in gauge_deriv(raw4k, 3600).collect()
    }
    assert got == exp


def test_streaming_gauge_delta_equals_batch(spark, raw4k, tmp_path):
    """gauge_delta's endpoint carriers (min_by/max_by on the (ts, id)
    order key) are declarative aggregates, so Structured Streaming
    maintains the tier incrementally: two availableNow drains over a
    drained input (second drain closes the watermark-held tail via the
    flush row) must equal the batch operator bit-for-bit."""
    import datetime as _dt

    from rasusa_spark.operators.timeseries import gauge_delta
    from rasusa_spark.streaming.incremental import streaming_gauge_delta

    inp = str(tmp_path / "gin")
    raw = raw4k.drop("tokens") if "tokens" in raw4k.columns else raw4k
    raw.coalesce(2).write.parquet(inp)
    schema = spark.read.parquet(inp).schema
    args = (spark, inp, str(tmp_path / "gck"), str(tmp_path / "gout"))
    streaming_gauge_delta(*args, schema).awaitTermination()
    far = spark.createDataFrame(
        [("zzz_flush", "f0", 0, _dt.datetime(2027, 1, 1), 10**9)],
        schema="source string, doc_id string, n_tok int, ts timestamp, row_idx long",
    ).select(*[f.name for f in schema.fields])
    far.write.mode("append").parquet(inp)
    streaming_gauge_delta(*args, schema).awaitTermination()

    out = spark.read.parquet(str(tmp_path / "gout")).where(
        F.col("source") != "zzz_flush"
    )
    got = sorted(
        (r.source, r.bucket_start, r.v_first, r.v_last, r.delta,
         r.n_samples, r.rate_per_s)
        for r in out.collect()
    )
    want = sorted(
        (r.source, r.bucket_start, r.v_first, r.v_last, r.delta,
         r.n_samples, r.rate_per_s)
        for r in gauge_delta(
            raw, 3600, series_cols=("source",), id_col="doc_id"
        ).collect()
    )
    assert got == want and len(want) > 0


def test_incremental_ivf_store_equals_batch_kill_resume(
    spark, tmp_path, monkeypatch
):
    """Incremental IVF: centroids pinned on first merge, deltas assigned
    and appended under per-txn dirs; searches over the incrementally
    built store equal ivf_topk_pruned over a batch-written store with
    the same centroids — across an injected mid-transaction crash."""
    import glob
    import os

    import numpy as np

    import rasusa_spark.streaming.ann_inc as ann
    from rasusa_spark.operators.similarity import (
        ivf_topk_pruned,
        write_ivf_partitioned,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = embs.count()
    ids = sorted(r.vec_id for r in embs.select("vec_id").collect())
    cut1, cut2 = ids[n // 3], ids[2 * n // 3]
    state = str(tmp_path / "astate")
    inp = str(tmp_path / "aemb")
    slices = {
        "a": embs.where(F.col("vec_id") < cut1),
        "b": embs.where((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)),
        "c": embs.where(F.col("vec_id") >= cut2),
    }
    files = {}
    for kk, sl in slices.items():
        sl.coalesce(1).write.parquet(f"{inp}/{kk}")
        files[kk] = sorted(glob.glob(f"{inp}/{kk}/*.parquet"))

    ann.merge_ivf_increment(
        spark, spark.read.parquet(*files["a"]), state, files=files["a"]
    )
    # geometry frozen
    with pytest.raises(ValueError, match="codebook is frozen"):
        ann.merge_ivf_increment(
            spark, spark.read.parquet(*files["b"]), state,
            files=files["b"], n_cells=8,
        )

    # crash after intent, before promote
    real_promote = ann._txn_promote_ivf

    def dying(spark_, state_path_):
        raise RuntimeError("injected crash before ivf promote")

    monkeypatch.setattr(ann, "_txn_promote_ivf", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        ann.merge_ivf_increment(
            spark, spark.read.parquet(*files["b"]), state, files=files["b"]
        )
    monkeypatch.setattr(ann, "_txn_promote_ivf", real_promote)
    assert os.path.exists(f"{state}/ivf_txn_intent/_SUCCESS")
    assert ann.recover_pending_ivf(spark, state) is True
    with pytest.raises(ValueError, match="already in the IVF manifest"):
        ann.merge_ivf_increment(
            spark, spark.read.parquet(*files["b"]), state, files=files["b"]
        )
    ann.merge_ivf_increment(
        spark, spark.read.parquet(*files["c"]), state, files=files["c"]
    )

    # batch reference with the SAME pinned centroids
    cents = ann.load_centroids(spark, state)
    batch_loc = str(tmp_path / "abatch")
    write_ivf_partitioned(embs, batch_loc, cents)

    rng = np.random.default_rng(17)
    dim = len(embs.select("embedding").first()[0])
    for _ in range(3):
        q = [float(x) for x in rng.normal(size=dim)]
        got = [
            (r.vec_id, round(r.cosine, 9))
            for r in ann.ivf_store_topk(spark, state, q, k=5, nprobe=3).collect()
        ]
        want = [
            (r.vec_id, round(r.cosine, 9))
            for r in ivf_topk_pruned(
                spark, batch_loc, q, cents, k=5, nprobe=3
            ).collect()
        ]
        assert got == want and len(got) == 5

    # store row total == corpus (every vector landed exactly once)
    stored = spark.read.parquet(f"{state}/ivf_store/cells")
    assert stored.count() == n
    # the probe scan prunes on ivf_cell (partition column)
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ann.ivf_store_topk(spark, state, [1.0] * dim, nprobe=2).explain(
            "formatted"
        )
    assert "PartitionFilters" in buf.getvalue()
    assert "ivf_cell" in buf.getvalue()


# --- round 6: ADVICE r5 regressions ---------------------------------------


def test_empty_increment_txn_never_wedges(spark, raw4k, tmp_path, monkeypatch):
    """ADVICE r5 (medium): an increment that stages ZERO parquet part files
    (empty delta) must promote via the intent's pinned schema — and a crash
    between intent and promote must roll forward, not wedge the store on
    'Unable to infer schema' forever."""
    import rasusa_spark.streaming.incremental as inc_mod

    state = str(tmp_path / "state")
    empty = raw4k.where(F.lit(False))

    # 1. clean empty-increment merges: into an empty store, then a real
    #    merge, then an empty one into the existing store
    out = merge_increment(spark, "rollup", empty, state, tier="1h", files=["e0"])
    assert out.count() == 0
    merge_increment(
        spark, "rollup", raw4k, state, tier="1h", allow_late=True, files=["r1"]
    )
    out = merge_increment(
        spark, "rollup", empty, state, tier="1h", allow_late=True, files=["e2"]
    )
    assert _rows(out) == _rows(rollup(raw4k, "1h"))

    # 2. injected crash AFTER the intent commits, with EMPTY staging: the
    #    pre-fix code wedged here (recover_pending replayed a failing
    #    promote each time)
    state2 = str(tmp_path / "state2")
    orig = inc_mod._txn_promote

    def boom(*a, **k):
        raise RuntimeError("injected crash post-intent")

    monkeypatch.setattr(inc_mod, "_txn_promote", boom)
    with pytest.raises(RuntimeError, match="injected"):
        merge_increment(spark, "rollup", empty, state2, tier="1h", files=["x0"])
    monkeypatch.setattr(inc_mod, "_txn_promote", orig)

    assert inc_mod.recover_pending(spark, state2, "rollup_1h") is True
    # the manifest recorded x0; the store is usable
    out = merge_increment(
        spark, "rollup", raw4k, state2, tier="1h", allow_late=True, files=["x1"]
    )
    assert _rows(out) == _rows(rollup(raw4k, "1h"))
    with pytest.raises(ValueError, match="already in"):
        merge_increment(
            spark, "rollup", empty, state2, tier="1h", allow_late=True, files=["x0"]
        )


def test_merge_increment_self_recovers_pending_txn(
    spark, raw4k, tmp_path, monkeypatch
):
    """ADVICE r5 (low): a DIRECT merge_increment call after a crash must
    roll the pending transaction forward first, not overwrite its
    intent/staging."""
    import rasusa_spark.streaming.incremental as inc_mod

    state = str(tmp_path / "state")
    first = raw4k.where(F.col("row_idx") < 2000)
    second = raw4k.where(F.col("row_idx") >= 2000)

    orig = inc_mod._txn_promote
    monkeypatch.setattr(
        inc_mod,
        "_txn_promote",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError):
        merge_increment(spark, "rollup", first, state, tier="1h", files=["f0"])
    monkeypatch.setattr(inc_mod, "_txn_promote", orig)

    # no manual recover_pending: the next direct merge must self-recover
    # (fold f0's prepared txn forward) and then apply f1 — equaling batch
    out = merge_increment(
        spark, "rollup", second, state, tier="1h", allow_late=True, files=["f1"]
    )
    assert _rows(out) == _rows(rollup(raw4k, "1h"))


def test_dynamic_overwrite_conf_restored(spark, raw4k, tmp_path):
    """ADVICE r5 (low): the txn/merge paths must not leave
    partitionOverwriteMode=dynamic on the shared session."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    state = str(tmp_path / "state")
    merge_increment(spark, "rollup", raw4k, state, tier="1h", files=["f0"])
    assert spark.conf.get(key, None) == prev


def test_streaming_gauge_delta_width_validation(spark, tmp_path):
    """ADVICE r5 (low): arbitrary F.window-acceptable widths parse; junk
    raises ValueError, not KeyError."""
    from rasusa_spark.streaming.incremental import (
        interval_seconds,
        streaming_gauge_delta,
    )

    assert interval_seconds("30 minutes") == 1800
    assert interval_seconds("2 hours") == 7200
    assert interval_seconds("1 week") == 604800
    with pytest.raises(ValueError, match="unsupported window width"):
        interval_seconds("fortnight")
    with pytest.raises(ValueError, match="unsupported window width"):
        streaming_gauge_delta(
            spark,
            str(tmp_path / "in"),
            str(tmp_path / "ck"),
            str(tmp_path / "out"),
            TOKENS_SCHEMA,
            width="1 fortnight",
        )


def test_incremental_changes_merge_equals_batch(spark, raw4k, tmp_path):
    """Time-ordered splits of the input fold into the changes/irate
    carrier bit-equal to the batch build; interleaved same-bucket appends
    are refused (sample-granularity watermark)."""
    from rasusa_spark.operators.timeseries import changes_partials

    state = str(tmp_path / "state")
    cut = raw4k.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    first = raw4k.where(F.unix_micros("ts") <= cut)
    second = raw4k.where(F.unix_micros("ts") > cut)

    merge_increment(spark, "changes", first, state, tier="1h", files=["f0"])
    merged = merge_increment(
        spark, "changes", second, state, tier="1h", allow_late=True, files=["f1"]
    )
    batch = changes_partials(raw4k, 3600)
    cols = [
        "source", "bucket_start", "n_changes", "n_samples",
        "u_first", "id_first", "v_first", "u_last", "id_last", "v_last",
        "u_prev", "id_prev", "v_prev",
    ]
    key = lambda d: sorted(tuple(r) for r in d.select(*cols).collect())
    assert key(merged) == key(batch) and batch.count() > 0

    # disjoint ranges arriving in REVERSE order still fold exactly (the
    # fold orders parts by first-sample key, not arrival)
    state2 = str(tmp_path / "state2")
    merge_increment(
        spark, "changes", second, state2, tier="1h", allow_late=True, files=["g0"]
    )
    rev = merge_increment(
        spark, "changes", first, state2, tier="1h", allow_late=True, files=["g1"]
    )
    assert key(rev) == key(batch)

    # INTERLEAVED same-bucket increments (odd/even rows) must refuse at
    # fold time — per-part change counts don't compose across interleaves
    state3 = str(tmp_path / "state3")
    merge_increment(
        spark, "changes",
        raw4k.where(F.col("row_idx") % 2 == 0),
        state3,
        tier="1h",
        files=["h0"],
    )
    with pytest.raises(Exception, match="overlap"):
        merge_increment(
            spark, "changes",
            raw4k.where(F.col("row_idx") % 2 == 1),
            state3,
            tier="1h",
            allow_late=True,
            files=["h1"],
        ).collect()


def test_streaming_gauge_changes_equals_batch(spark, tmp_path):
    """Streamed per-sample change flags bucket-aggregate to exactly the
    batch gauge_changes tier, including pairs spanning the micro-batch
    boundary (carried state)."""
    import datetime as _dt

    import numpy as np

    from pyspark.sql import types as T

    from rasusa_spark.operators.timeseries import gauge_changes
    from rasusa_spark.streaming.stateful import streaming_gauge_changes

    rng = np.random.default_rng(23)
    t0 = _dt.datetime(2026, 6, 1)
    rows = []
    eid = 0
    for s in ("a", "b"):
        t = 0
        for _ in range(500):
            t += int(rng.integers(10, 400))
            # small value range so repeats (no-change pairs) are common
            rows.append((s, eid, t0 + _dt.timedelta(seconds=t),
                         int(rng.integers(0, 4))))
            eid += 1
    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("n_tok", T.IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)
    cut = t0 + _dt.timedelta(seconds=30_000)
    inp = str(tmp_path / "chin")
    df.where(F.col("ts") < F.lit(cut)).coalesce(1).write.parquet(f"{inp}/a")
    df.where(F.col("ts") >= F.lit(cut)).coalesce(1).write.parquet(f"{inp}/b")

    q = streaming_gauge_changes(
        spark, f"{inp}/*", str(tmp_path / "chck"), str(tmp_path / "chout"),
        schema, width_s=3600, series_col="event_type",
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    streamed = (
        spark.read.parquet(str(tmp_path / "chout"))
        .groupBy(
            F.col("series").alias("event_type"),
            F.timestamp_micros(F.col("bucket_xu")).alias("bucket_start"),
        )
        .agg(
            F.sum("changed").alias("n_changes"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    batch = gauge_changes(
        df, 3600, series_cols=("event_type",), value_col="n_tok",
        id_col="event_id",
    )
    key = lambda d: sorted(
        (r.event_type, r.bucket_start, int(r.n_changes), int(r.n_samples))
        for r in d.collect()
    )
    assert key(streamed) == key(batch) and len(key(batch)) > 0


def test_dedup_sigs_store_shard_pruning(spark, doubled_docs, tmp_path):
    """VERDICT r5 Next #3: the persisted signature store is laid out as
    sigs/txn=*/sig_shard=* and the verification join's stored-side scan
    prunes to the candidate ids' shards (PartitionFilters in the plan) —
    O(delta) I/O, not O(corpus), per increment."""
    import contextlib
    import glob
    import io
    import os

    import rasusa_spark.streaming.dedup_inc as dd

    state = str(tmp_path / "state")
    inp = str(tmp_path / "docs")
    originals = doubled_docs.where(F.col("doc_id") < 100000)
    clones = doubled_docs.where(F.col("doc_id") >= 100000)
    originals.coalesce(1).write.parquet(f"{inp}/a")
    clones.coalesce(1).write.parquet(f"{inp}/b")
    fa = sorted(glob.glob(f"{inp}/a/*.parquet"))
    fb = sorted(glob.glob(f"{inp}/b/*.parquet"))

    dd.merge_minhash_increment(spark, spark.read.parquet(*fa), state, files=fa)

    # layout: every sigs txn directory is shard-partitioned
    shard_dirs = glob.glob(f"{state}/minhash_store/sigs/txn=*/sig_shard=*")
    assert shard_dirs, "sigs store is not shard-partitioned"
    n_shards_on_disk = len(
        {os.path.basename(d) for d in shard_dirs}
    )
    assert n_shards_on_disk > 1

    # the pruned stored-side read (what increment 2's verification join
    # performs) carries PartitionFilters on sig_shard — same assertion
    # style as the bands-store pruning test
    some = [int(os.path.basename(shard_dirs[0]).split("=")[1])]
    pruned = spark.read.parquet(f"{state}/minhash_store/sigs").where(
        F.col("sig_shard").isin(some)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "sig_shard" in plan

    # functional: increment 2 (clones of increment 1) still reproduces
    # batch pairs exactly through the pruned verification path
    from rasusa_spark.operators.dedup import (
        minhash_lsh_pairs,
        release_dedup_caches,
    )

    sig_glob = f"{state}/minhash_store/sigs/txn=*/sig_shard=*/*.parquet"
    mtimes_before = {p: os.path.getmtime(p) for p in glob.glob(sig_glob)}

    got = dd.merge_minhash_increment(
        spark, spark.read.parquet(*fb), state, files=fb
    )
    batch = minhash_lsh_pairs(
        doubled_docs, n_perm=64, n_bands=32, threshold=0.5
    )
    assert _pairs_rows(got) == _pairs_rows(batch)
    release_dedup_caches()

    # two txn dirs now exist; prior-txn sig files were never rewritten
    after = glob.glob(sig_glob)
    txns = {p.split("/txn=")[1].split("/")[0] for p in after}
    assert len(txns) == 2
    for p, m in mtimes_before.items():
        assert os.path.getmtime(p) == m, f"prior txn sig rewritten: {p}"


def test_compact_ivf_cells_identity_and_recovery(spark, tmp_path, monkeypatch):
    """VERDICT r5 Next #4: compaction folds cells/txn=* into one
    consolidated txn with one file per cell — search results identical,
    file count drops to n_cells, and a crash between the compaction
    intent and promote rolls forward without duplicating rows."""
    import glob

    import numpy as np

    import rasusa_spark.streaming.ann_inc as ann

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ids = sorted(r.vec_id for r in embs.select("vec_id").collect())
    n = len(ids)
    state = str(tmp_path / "astate")
    inp = str(tmp_path / "aemb")
    n_inc = 5
    files = []
    for k in range(n_inc):
        lo, hi = ids[k * n // n_inc], ids[min(n, (k + 1) * n // n_inc) - 1]
        sl = embs.where((F.col("vec_id") >= lo) & (F.col("vec_id") <= hi))
        sl.coalesce(1).write.parquet(f"{inp}/{k}")
        files.append(sorted(glob.glob(f"{inp}/{k}/*.parquet")))
    for k in range(n_inc):
        ann.merge_ivf_increment(
            spark, spark.read.parquet(*files[k]), state, files=files[k]
        )

    dim = len(embs.select("embedding").first()[0])
    rng = np.random.default_rng(31)
    queries = [[float(x) for x in rng.normal(size=dim)] for _ in range(3)]

    def probe_all():
        return [
            [
                (r.vec_id, round(r.cosine, 9))
                for r in ann.ivf_store_topk(spark, state, q, k=5, nprobe=4).collect()
            ]
            for q in queries
        ]

    before = probe_all()
    cells_glob = f"{state}/ivf_store/cells/txn=*/ivf_cell=*/*.parquet"
    files_before = len(glob.glob(cells_glob))
    assert files_before > 16  # 5 txns × probed cells accrete files

    stats = ann.compact_ivf_cells(spark, state)
    assert stats["folded_txns"] == n_inc
    files_after = len(glob.glob(cells_glob))
    assert files_after == stats["files_after"] <= 16  # one file per cell
    assert files_after < files_before
    # exactly one txn dir remains; total rows conserved
    txns = ann._list_txn_dirs(spark, f"{state}/ivf_store/cells")
    assert len(txns) == 1 and txns[0].startswith("c-")
    assert spark.read.parquet(f"{state}/ivf_store/cells").count() == n
    assert probe_all() == before

    # second compaction is a no-op
    stats2 = ann.compact_ivf_cells(spark, state)
    assert stats2["folded_txns"] == 0

    # ingest another increment, then CRASH the compaction promote after
    # its intent commits — searches and merges must self-heal
    extra = embs.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    extra.coalesce(1).write.parquet(f"{inp}/x")
    fx = sorted(glob.glob(f"{inp}/x/*.parquet"))
    ann.merge_ivf_increment(spark, spark.read.parquet(*fx), state, files=fx)
    expected_with_clones = probe_all()  # clones now legitimately rank

    real = ann._compact_promote_ivf
    monkeypatch.setattr(
        ann,
        "_compact_promote_ivf",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        ann.compact_ivf_cells(spark, state)
    monkeypatch.setattr(ann, "_compact_promote_ivf", real)

    # a search on the wedged store rolls the compaction forward first:
    # results identical to pre-crash, no duplicated rows, one txn dir
    got = probe_all()
    assert got == expected_with_clones
    assert spark.read.parquet(f"{state}/ivf_store/cells").count() == 2 * n
    assert len(ann._list_txn_dirs(spark, f"{state}/ivf_store/cells")) == 1


def test_compact_minhash_store_identity(spark, doubled_docs, tmp_path):
    """Compacting bands+sigs mid-stream changes nothing observable: the
    next increment's emitted pairs still bit-equal batch LSH, file counts
    drop, the manifest/geometry guards survive."""
    import glob

    import rasusa_spark.streaming.dedup_inc as dd
    from rasusa_spark.operators.dedup import (
        minhash_lsh_pairs,
        release_dedup_caches,
    )

    state = str(tmp_path / "state")
    inp = str(tmp_path / "docs")
    originals = doubled_docs.where(F.col("doc_id") < 100000)
    med = sorted(r.doc_id for r in originals.select("doc_id").collect())
    med = med[len(med) // 2]
    slices = {
        "a": originals.where(F.col("doc_id") < med),
        "b": originals.where(F.col("doc_id") >= med),
        "c": doubled_docs.where(F.col("doc_id") >= 100000),
    }
    files = {}
    for k, sl in slices.items():
        sl.coalesce(1).write.parquet(f"{inp}/{k}")
        files[k] = sorted(glob.glob(f"{inp}/{k}/*.parquet"))

    dd.merge_minhash_increment(
        spark, spark.read.parquet(*files["a"]), state, files=files["a"]
    )
    dd.merge_minhash_increment(
        spark, spark.read.parquet(*files["b"]), state, files=files["b"]
    )

    band_glob = f"{state}/minhash_store/bands/txn=*/shard=*/*.parquet"
    sig_glob = f"{state}/minhash_store/sigs/txn=*/sig_shard=*/*.parquet"
    before = len(glob.glob(band_glob)) + len(glob.glob(sig_glob))
    stats = dd.compact_minhash_store(spark, state)
    assert stats["folded_txns"] == 2
    after = len(glob.glob(band_glob)) + len(glob.glob(sig_glob))
    assert after == stats["files_after"] < before == stats["files_before"]

    # manifest guard still holds after compaction
    with pytest.raises(ValueError, match="already in the minhash manifest"):
        dd.merge_minhash_increment(
            spark, spark.read.parquet(*files["a"]), state, files=files["a"]
        )

    # the increment AFTER compaction still reproduces batch exactly
    got = dd.merge_minhash_increment(
        spark, spark.read.parquet(*files["c"]), state, files=files["c"]
    )
    batch = minhash_lsh_pairs(
        doubled_docs, n_perm=64, n_bands=32, threshold=0.5
    )
    assert _pairs_rows(got) == _pairs_rows(batch)
    release_dedup_caches()


def test_ivf_store_twenty_increments_files_and_identity(spark, tmp_path):
    """VERDICT r5 Next #7: a 10× increment count (20 small batches). File
    count grows with txn count before compaction and collapses to one
    file per cell after; search equals ivf_topk_pruned over a batch store
    with the same pinned centroids at every stage."""
    import glob

    import numpy as np

    import rasusa_spark.streaming.ann_inc as ann
    from rasusa_spark.operators.similarity import (
        ivf_topk_pruned,
        write_ivf_partitioned,
    )

    rng = np.random.default_rng(11)
    dim, per_inc, n_inc, n_cells = 8, 200, 20, 8
    state = str(tmp_path / "state")
    inp = str(tmp_path / "emb")
    all_rows = []
    files = []
    for k in range(n_inc):
        vecs = rng.normal(size=(per_inc, dim))
        rows = [
            (k * per_inc + i, [float(x) for x in vecs[i]])
            for i in range(per_inc)
        ]
        all_rows.extend(rows)
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(f"{inp}/{k}")
        files.append(sorted(glob.glob(f"{inp}/{k}/*.parquet")))
    for k in range(n_inc):
        ann.merge_ivf_increment(
            spark,
            spark.read.parquet(*files[k]),
            state,
            files=files[k],
            n_cells=n_cells,
            sample=1024,
            iters=4,
            seed=3,
        )

    cells_glob = f"{state}/ivf_store/cells/txn=*/ivf_cell=*/*.parquet"
    files_at_20 = len(glob.glob(cells_glob))
    # 20 txns × (most of) 8 cells each — file count scales with txn count
    assert files_at_20 >= n_inc * n_cells // 2

    cents = ann.load_centroids(spark, state)
    batch_loc = str(tmp_path / "batch")
    corpus = spark.createDataFrame(
        all_rows, "vec_id long, embedding array<double>"
    )
    write_ivf_partitioned(corpus, batch_loc, cents)

    q = [float(x) for x in rng.normal(size=dim)]

    def store_topk():
        return [
            (r.vec_id, round(r.cosine, 9))
            for r in ann.ivf_store_topk(spark, state, q, k=7, nprobe=3).collect()
        ]

    want = [
        (r.vec_id, round(r.cosine, 9))
        for r in ivf_topk_pruned(spark, batch_loc, q, cents, k=7, nprobe=3).collect()
    ]
    assert store_topk() == want

    stats = ann.compact_ivf_cells(spark, state)
    assert stats["folded_txns"] == n_inc
    assert stats["files_after"] <= n_cells  # one file per cell
    assert store_topk() == want
    assert (
        spark.read.parquet(f"{state}/ivf_store/cells").count()
        == n_inc * per_inc
    )


def test_incremental_topn_merge_equals_batch(spark, raw4k, tmp_path):
    """Top-N carrier O(delta) merge: ANY split of the input folds to the
    batch carrier bit-for-bit (integer sums), and finalizing the stored
    carrier equals topn_rollup over raw."""
    from rasusa_spark.operators.timeseries import (
        topn_finalize,
        topn_partials,
        topn_rollup,
    )

    state = str(tmp_path / "state")
    # interleaved split is FINE here (unlike changes): sums are
    # order-independent
    first = raw4k.where(F.col("row_idx") % 2 == 0)
    second = raw4k.where(F.col("row_idx") % 2 == 1)
    merge_increment(
        spark, "topn", first, state, tier="1h", key_col="doc_id", files=["f0"]
    )
    merged = merge_increment(
        spark, "topn", second, state, tier="1h", key_col="doc_id",
        allow_late=True, files=["f1"],
    )
    batch = topn_partials(raw4k, 3600, key_col="doc_id", series_cols=("source",))
    key = lambda d: sorted(tuple(r) for r in d.collect())
    assert key(merged.select(*batch.columns)) == key(batch)

    got = topn_finalize(
        merged, 2, key_col="doc_id", series_cols=("source",)
    )
    want = topn_rollup(
        raw4k, 3600, 2, key_col="doc_id", series_cols=("source",)
    )
    assert key(got.select(*want.columns)) == key(want)


def test_incremental_ohlc_merge_equals_batch(spark, raw4k, tmp_path):
    """OHLC carrier O(delta) merge: ANY split of the input folds to the
    batch carrier bit-for-bit (the (ts, id) order key is total, so
    min_by/max_by compose across interleaved parts), and finalizing the
    stored carrier equals ohlc_rollup over raw."""
    from rasusa_spark.operators.timeseries import (
        ohlc_finalize,
        ohlc_partials,
        ohlc_rollup,
    )

    state = str(tmp_path / "state")
    first = raw4k.where(F.col("row_idx") % 2 == 0)
    second = raw4k.where(F.col("row_idx") % 2 == 1)
    merge_increment(spark, "ohlc", first, state, tier="1h", files=["f0"])
    merged = merge_increment(
        spark, "ohlc", second, state, tier="1h", allow_late=True, files=["f1"]
    )
    batch = ohlc_partials(raw4k, 3600)
    key = lambda d: sorted(tuple(r) for r in d.collect())
    assert key(merged.select(*batch.columns)) == key(batch)
    got = ohlc_finalize(merged.select(*batch.columns))
    want = ohlc_rollup(raw4k, 3600)
    assert key(got.select(*want.columns)) == key(want)


def test_streaming_ohlc_equals_batch(spark, raw4k, tmp_path):
    """The candlestick carriers are declarative min_by/max_by aggregates,
    so Structured Streaming maintains the OHLC tier incrementally: two
    availableNow drains (second closes the watermark-held tail via the
    flush row) must equal the batch operator bit-for-bit."""
    import datetime as _dt

    from rasusa_spark.operators.timeseries import ohlc_rollup
    from rasusa_spark.streaming.incremental import streaming_ohlc

    inp = str(tmp_path / "oin")
    raw = raw4k.drop("tokens") if "tokens" in raw4k.columns else raw4k
    raw.coalesce(2).write.parquet(inp)
    schema = spark.read.parquet(inp).schema
    args = (spark, inp, str(tmp_path / "ock"), str(tmp_path / "oout"))
    streaming_ohlc(*args, schema).awaitTermination()
    far = spark.createDataFrame(
        [("zzz_flush", "f0", 0, _dt.datetime(2027, 1, 1), 10**9)],
        schema="source string, doc_id string, n_tok int, ts timestamp, row_idx long",
    ).select(*[f.name for f in schema.fields])
    far.write.mode("append").parquet(inp)
    streaming_ohlc(*args, schema).awaitTermination()

    out = spark.read.parquet(str(tmp_path / "oout")).where(
        F.col("source") != "zzz_flush"
    )
    cols = ("source", "bucket_start", "v_open", "v_high", "v_low",
            "v_close", "volume", "n_samples")
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in ohlc_rollup(
            raw, 3600, series_cols=("source",), id_col="doc_id"
        ).collect()
    )
    assert got == want and len(want) > 0


def test_incremental_rate_merge_equals_batch(spark, raw4k, tmp_path):
    """Rate carrier O(delta) merge: a TIME-ORDERED split of the input
    folds to the batch carrier bit-for-bit (Σ increases + the boundary
    contribution the per-part windows never saw), and finalizing the
    stored carrier equals prom_rate over raw."""
    from rasusa_spark.operators.timeseries import (
        prom_rate,
        prom_rate_finalize,
        rate_partials,
    )

    state = str(tmp_path / "state")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = int(
        raw4k.select(us.alias("u")).approxQuantile("u", [0.5], 0.0)[0]
    )
    first = raw4k.where(us <= mid)
    second = raw4k.where(us > mid)
    merge_increment(spark, "rate", first, state, tier="1h", files=["f0"])
    merged = merge_increment(
        spark, "rate", second, state, tier="1h", allow_late=True, files=["f1"]
    )
    batch = rate_partials(raw4k, 3600)
    key = lambda d: sorted(tuple(r) for r in d.collect())
    assert key(merged.select(*batch.columns)) == key(batch)
    got = prom_rate_finalize(merged.select(*batch.columns), 3600)
    want = prom_rate(raw4k, 3600)
    assert key(got.select(*want.columns)) == key(want)


def test_incremental_twa_merge_equals_batch(spark, raw4k, tmp_path):
    """TWA carrier O(delta) merge: a TIME-ORDERED split of the input
    folds to the batch carrier bit-for-bit (Σ integrals + the LOCF
    boundary segment the per-part windows never saw), and finalizing the
    stored carrier equals time_weighted_avg over raw."""
    from rasusa_spark.operators.timeseries import (
        time_weighted_avg,
        twa_finalize,
        twa_partials,
    )

    state = str(tmp_path / "state")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = int(
        raw4k.select(us.alias("u")).approxQuantile("u", [0.5], 0.0)[0]
    )
    first = raw4k.where(us <= mid)
    second = raw4k.where(us > mid)
    merge_increment(spark, "twa", first, state, tier="1h", files=["f0"])
    merged = merge_increment(
        spark, "twa", second, state, tier="1h", allow_late=True, files=["f1"]
    )
    batch = twa_partials(raw4k, 3600)
    key = lambda d: sorted(tuple(r) for r in d.collect())
    assert key(merged.select(*batch.columns)) == key(batch)
    got = twa_finalize(merged.select(*batch.columns))
    want = time_weighted_avg(raw4k, 3600)
    assert key(got.select(*want.columns)) == key(want)
