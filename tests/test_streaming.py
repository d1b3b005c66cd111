"""Incremental tier maintenance tests (SURVEY §2.10: watermark-per-bucket,
batch-incremental recomputation, the merge transaction's recovery)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rasusa_spark.operators.rollup import rollup
from rasusa_spark.streaming.incremental import merge_increment
from rasusa_spark.synth import tokens_raw_df


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
