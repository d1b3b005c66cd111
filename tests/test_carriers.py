"""Every mergeable tier carrier, driven from the one carrier table
(streaming/incremental.py ``CARRIERS``): the O(delta) merge equals the
batch build, the cascade re-roll equals the coarse build, and tier
retention drops covered partitions, conserves the logged measure and
refuses an uncovering coarse store."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from rasusa_spark.plans.checkpoint import read_commit_log
from rasusa_spark.plans.retention import RetentionError, apply_tier_retention
from rasusa_spark.streaming.incremental import (
    CARRIERS,
    merge_increment,
    read_store,
)
from rasusa_spark.synth import tokens_raw_df

KINDS = list(CARRIERS)
# the synthetic rows carry no user_id; topn keys on doc_id instead
PARAMS = {"topn": {"key_col": "doc_id"}}


@pytest.fixture(scope="module")
def raw2k(spark):
    df = tokens_raw_df(spark, 2000, with_tokens=False, partitions=4).cache()
    df.count()
    return df


def _key(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _days(spark, path):
    return sorted(
        str(r.bucket_part)
        for r in spark.read.parquet(path).select("bucket_part").distinct().collect()
    )


@pytest.mark.parametrize("kind", KINDS)
def test_merge_increment_equals_batch(spark, raw2k, tmp_path, kind):
    """A time-ordered split folded through both merge paths (plain, then
    transaction) equals the batch partials bit-for-bit, and the table's
    from_finer re-roll of the 1h partials equals the 1d partials."""
    c, params = CARRIERS[kind], PARAMS.get(kind, {})
    state = str(tmp_path / "state")
    mid = raw2k.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    us = F.unix_micros("ts")
    merge_increment(spark, kind, raw2k.where(us <= mid), state, **params)
    merged = merge_increment(
        spark, kind, raw2k.where(us > mid), state, allow_late=True,
        files=["f1"], **params,
    )
    batch = c.partials(raw2k, "1h", ["source"], **params)
    assert _key(merged, batch.columns) == _key(batch, batch.columns)
    assert batch.count() > 0

    coarse = c.partials(raw2k, "1d", ["source"], **params)
    rerolled = c.from_finer(batch, "1d", ["source"], **params)
    assert _key(rerolled, coarse.columns) == _key(coarse, coarse.columns)


@pytest.mark.parametrize("kind", KINDS)
def test_tier_retention_per_carrier(spark, raw2k, tmp_path, kind):
    """1h day partitions older than a day-aligned cutoff drop once the 1d
    store covers them; the surviving 1h tail and the logged measure add up
    to the 1h total and to the 1d total; a rerun drops nothing; a 1d store
    built from part of the data refuses and deletes nothing."""
    params = PARAMS.get(kind, {})
    state, state2 = str(tmp_path / "s"), str(tmp_path / "s2")
    fine, coarse = f"{state}/{kind}_1h", f"{state}/{kind}_1d"
    merge_increment(spark, kind, raw2k, state, tier="1h", **params)
    merge_increment(
        spark, kind, raw2k, state, tier="1d", allow_late=True, **params
    )
    shutil.copytree(fine, f"{state2}/{kind}_1h")
    measure = F.sum(F.expr(CARRIERS[kind].dropped))

    def total(path):
        return spark.read.parquet(path).agg(measure).first()[0]

    days = _days(spark, fine)
    assert len(days) >= 3
    cd = days[2]
    cutoff = f"{cd[:4]}-{cd[4:6]}-{cd[6:]} 00:00:00"
    fine_before = total(fine)

    with pytest.raises(ValueError, match="aligned"):
        apply_tier_retention(
            spark, state, drop_before=f"{cutoff[:11]}07:00:00", kind=kind,
            **params,
        )

    log = apply_tier_retention(
        spark, state, drop_before=cutoff, kind=kind, **params
    ).collect()
    assert {r.source.split("=")[1] for r in log} == set(days[:2])
    assert {r.tier for r in log} == {"1h" if kind == "rollup" else f"{kind}_1h"}
    assert _days(spark, fine) == days[2:]
    dropped = sum(r.n_tok_dropped for r in log)
    assert total(fine) + dropped == fine_before == total(coarse)
    assert apply_tier_retention(
        spark, state, drop_before=cutoff, kind=kind, **params
    ).count() == 0

    merge_increment(
        spark, kind, raw2k.where(F.col("row_idx") < 500), state2, tier="1d",
        **params,
    )
    n_before = spark.read.parquet(f"{state2}/{kind}_1h").count()
    with pytest.raises(RetentionError, match="does not cover"):
        apply_tier_retention(
            spark, state2, drop_before=cutoff, kind=kind, **params
        )
    assert spark.read.parquet(f"{state2}/{kind}_1h").count() == n_before


def test_distinct_retention_refuses_counts_only_cover(spark, raw2k, tmp_path):
    """A 1d distinct store whose counts match but whose id SETS differ
    does not cover the 1h sets: the drop is refused."""
    state = str(tmp_path / "s")
    merge_increment(spark, "distinct", raw2k, state, tier="1h")
    merge_increment(spark, "distinct", raw2k, state, tier="1d", allow_late=True)
    d1 = spark.read.parquet(f"{state}/distinct_1d")
    bad = str(tmp_path / "bad")
    shutil.copytree(f"{state}/distinct_1h", f"{bad}/distinct_1h")
    d1.withColumn(
        "id_set", F.transform("id_set", lambda x: F.concat(x, F.lit("~")))
    ).write.partitionBy("bucket_part").parquet(f"{bad}/distinct_1d")
    cd = _days(spark, f"{state}/distinct_1h")[2]
    with pytest.raises(RetentionError, match="does not cover"):
        apply_tier_retention(
            spark, bad, drop_before=f"{cd[:4]}-{cd[4:6]}-{cd[6:]} 00:00:00",
            kind="distinct",
        )


def test_distinct_merge_enforces_set_size_on_union(spark, tmp_path):
    """Each increment holds 3 distinct ids in one bucket, within
    max_set_size=3; their union holds 5, so the merge must refuse."""
    t = dt.datetime(2026, 1, 1, 10, 5)
    schema = "source string, doc_id string, ts timestamp"
    first = spark.createDataFrame([("a", f"d{i}", t) for i in range(3)], schema)
    second = spark.createDataFrame([("a", f"d{i}", t) for i in range(2, 5)], schema)
    state = str(tmp_path / "s")
    merge_increment(spark, "distinct", first, state, max_set_size=3)
    with pytest.raises(Exception, match="max_set_size=3"):
        merge_increment(
            spark, "distinct", second, state, allow_late=True, max_set_size=3
        ).collect()


def test_unknown_tier_or_kind_raises_before_any_job(spark, raw2k, tmp_path):
    """Every carrier takes the tier names of operators.rollup.TIERS; an
    unknown tier or kind is a ValueError raised before Spark runs a job
    or the store is created."""
    sc = spark.sparkContext
    sc.setJobGroup("unknown-tier", "no job may run")
    try:
        for kind in KINDS:
            params = PARAMS.get(kind, {})
            CARRIERS[kind].partials(raw2k, "raw", ["source"], **params).schema
            with pytest.raises(ValueError, match="unknown tier"):
                merge_increment(spark, kind, raw2k, str(tmp_path), tier="2h")
            with pytest.raises(ValueError, match="unknown tier"):
                apply_tier_retention(
                    spark, str(tmp_path), drop_before="2026-01-02 00:00:00",
                    fine="2h", kind=kind,
                )
        with pytest.raises(ValueError, match="unknown carrier"):
            merge_increment(spark, "nope", raw2k, str(tmp_path))
        assert sc.statusTracker().getJobIdsForGroup("unknown-tier") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert os.listdir(tmp_path) == []


def test_read_store_absent_empty_and_corrupt(spark, tmp_path):
    """An absent store and one holding only _SUCCESS read as no state; a
    corrupt part file raises instead of reading as empty."""
    assert read_store(spark, str(tmp_path / "absent")) is None
    only_marker = tmp_path / "marker"
    only_marker.mkdir()
    (only_marker / "_SUCCESS").write_bytes(b"")
    assert read_store(spark, str(only_marker)) is None
    assert read_commit_log(spark, str(tmp_path / "fresh")).count() == 0

    for store in (tmp_path / "corrupt", tmp_path / "ck" / "commits"):
        store.mkdir(parents=True)
        (store / "_SUCCESS").write_bytes(b"")
        (store / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_store(spark, str(tmp_path / "corrupt")).collect()
    with pytest.raises(Exception):
        read_commit_log(spark, str(tmp_path / "ck")).collect()


def _thirds(df):
    """Three time-ordered parts of ``df``, split at ts tertiles."""
    q1, q2 = df.agg(
        F.expr("percentile(unix_micros(ts), array(1D / 3, 2D / 3))")
    ).first()[0]
    us = F.unix_micros("ts")
    return df.where(us <= q1), df.where((us > q1) & (us <= q2)), df.where(us > q2)


def _stored(spark, path):
    # columns by name: the read-back order depends on which part file's
    # footer Spark samples
    df = spark.read.parquet(path)
    return _key(df, sorted(df.columns))


def _paths(spark, path):
    return {r.path for r in spark.read.parquet(path).collect()}


def _crash_promote(monkeypatch, inc_mod, spark, kind, part, state, files):
    """Run a transaction merge whose promote dies after the intent
    commits; the prepared transaction is left on disk."""
    real = inc_mod._txn_promote

    def dying(*a):
        raise RuntimeError("injected crash before promote")

    monkeypatch.setattr(inc_mod, "_txn_promote", dying)
    with pytest.raises(RuntimeError, match="injected"):
        merge_increment(spark, kind, part, state, allow_late=True, files=files)
    monkeypatch.setattr(inc_mod, "_txn_promote", real)
    assert os.path.exists(f"{state}/{kind}_1h_txn_intent/_SUCCESS")
    assert read_store(spark, f"{state}/{kind}_1h") is None


@pytest.mark.parametrize("kind", ["rollup", "hist", "cms", "distinct"])
def test_txn_merge_crash_contract(spark, raw2k, tmp_path, monkeypatch, kind):
    """The transaction merge's crash contract, on the non-idempotent
    carriers and distinct: (a) a promote that dies for f1 is rolled
    forward exactly once by the next merge (of f2); (b) a cleanup skipped
    after f2 leaves its intent, which the next merge (of f3) replays
    idempotently. Store, watermark and file manifest then equal an
    uncrashed run, the store equals the batch partials, and re-sending a
    merged file is refused."""
    import rasusa_spark.streaming.incremental as inc_mod

    parts = _thirds(raw2k)
    ref, state = str(tmp_path / "ref"), str(tmp_path / "state")
    for i, part in enumerate(parts, 1):
        merge_increment(spark, kind, part, ref, allow_late=True, files=[f"f{i}"])
    store = f"{state}/{kind}_1h"

    _crash_promote(monkeypatch, inc_mod, spark, kind, parts[0], state, ["f1"])

    real_cleanup = inc_mod._txn_cleanup

    def skip_f2_cleanup(spark_, state_path, store_name):
        intent = os.path.join(state_path, f"{store_name}_txn_intent")
        if os.path.exists(intent) and _paths(spark_, intent) == {"f2"}:
            return  # dies after promote, before the intent is deleted
        real_cleanup(spark_, state_path, store_name)

    monkeypatch.setattr(inc_mod, "_txn_cleanup", skip_f2_cleanup)
    merge_increment(spark, kind, parts[1], state, allow_late=True, files=["f2"])
    monkeypatch.setattr(inc_mod, "_txn_cleanup", real_cleanup)
    assert _paths(spark, f"{store}_txn_intent") == {"f2"}
    assert _paths(spark, f"{store}_files") == {"f1", "f2"}

    merge_increment(spark, kind, parts[2], state, allow_late=True, files=["f3"])
    assert not os.path.exists(f"{store}_txn_intent")
    for suffix in ("", "_wm", "_files"):
        assert _stored(spark, f"{store}{suffix}") == _stored(
            spark, f"{ref}/{kind}_1h{suffix}"
        ), f"{kind}_1h{suffix} diverged from the uncrashed run"
    batch = CARRIERS[kind].partials(raw2k, "1h", ["source"])
    assert _key(spark.read.parquet(store), batch.columns) == _key(
        batch, batch.columns
    )
    with pytest.raises(ValueError, match="already in"):
        merge_increment(spark, kind, parts[1], state, allow_late=True, files=["f2"])


def test_plain_merge_rolls_pending_txn_forward(spark, raw2k, tmp_path, monkeypatch):
    """A merge without ``files`` on a store whose transaction died before
    its promote must roll that transaction forward first: otherwise the
    plain merge ignores the pending rows, and the next transaction merge
    replays the stale staging over the partitions it wrote."""
    import rasusa_spark.streaming.incremental as inc_mod

    parts = _thirds(raw2k)
    state = str(tmp_path / "state")
    store = f"{state}/rollup_1h"
    c = CARRIERS["rollup"]
    _crash_promote(monkeypatch, inc_mod, spark, "rollup", parts[0], state, ["f1"])

    merge_increment(spark, "rollup", parts[1], state, allow_late=True)
    batch = c.partials(parts[0].unionByName(parts[1]), "1h", ["source"])
    assert _key(spark.read.parquet(store), batch.columns) == _key(
        batch, batch.columns
    )

    merge_increment(spark, "rollup", parts[2], state, allow_late=True, files=["f3"])
    batch = c.partials(raw2k, "1h", ["source"])
    assert _key(spark.read.parquet(store), batch.columns) == _key(
        batch, batch.columns
    )


def test_plain_merge_killed_after_intent_is_refused_as_late(
    spark, raw2k, tmp_path, monkeypatch
):
    """A plain merge killed after its intent commits is rolled forward by
    the rerun, which then refuses the same increment as late: the store
    holds one fold of the batch partials. (A kill between a store write
    and the watermark write would let the rerun pass the late check and
    fold the increment twice.)"""
    import rasusa_spark.streaming.incremental as inc_mod

    parts = _thirds(raw2k)
    first, second = parts[0], parts[1].unionByName(parts[2])
    state = str(tmp_path / "state")
    merge_increment(spark, "rollup", first, state)

    def dying(*a):
        raise RuntimeError("injected crash before promote")

    monkeypatch.setattr(inc_mod, "_txn_promote", dying)
    with pytest.raises(RuntimeError, match="injected"):
        merge_increment(spark, "rollup", second, state)
    monkeypatch.undo()
    assert os.path.exists(f"{state}/rollup_1h_txn_intent/_SUCCESS")

    with pytest.raises(ValueError, match="late bucket"):
        merge_increment(spark, "rollup", second, state)
    batch = CARRIERS["rollup"].partials(raw2k, "1h", ["source"])
    assert _key(spark.read.parquet(f"{state}/rollup_1h"), batch.columns) == _key(
        batch, batch.columns
    )


def _jobs(spark, group, fn) -> int:
    """The number of Spark jobs ``fn`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("path", ["plain", "txn"])
def test_steady_merge_job_budget(spark, raw2k, tmp_path, path):
    """A steady merge into a store that already holds history launches at
    most 4 Spark jobs on the plain path and 6 on the transaction path,
    and leaves one parquet file in every bucket_part it touched."""
    import glob

    parts = _thirds(raw2k)
    state = str(tmp_path / "state")
    txn = path == "txn"
    merge_increment(spark, "rollup", parts[0], state, files=["f1"] if txn else None)
    touched = {
        r[0] for r in parts[1].select(F.date_format("ts", "yyyyMMdd")).distinct().collect()
    }
    n = _jobs(
        spark, f"steady-merge-{path}",
        lambda: merge_increment(
            spark, "rollup", parts[1], state, allow_late=True,
            files=["f2"] if txn else None,
        ),
    )
    assert n <= (6 if txn else 4), f"{path} merge launched {n} Spark jobs"
    for day in touched:
        files = glob.glob(f"{state}/rollup_1h/bucket_part={day}/*.parquet")
        assert len(files) == 1, f"bucket_part={day} holds {len(files)} files"


def test_tier_retention_killed_before_delete_logs_once(
    spark, raw2k, tmp_path, monkeypatch
):
    """A tier retention killed after it appended its log rows but before
    it deleted the partitions is completed by the rerun, and every dropped
    1h day is logged exactly once."""
    import rasusa_spark.plans.retention as ret_mod

    state = str(tmp_path / "s")
    merge_increment(spark, "rollup", raw2k, state, tier="1h")
    merge_increment(spark, "rollup", raw2k, state, tier="1d", allow_late=True)
    days = _days(spark, f"{state}/rollup_1h")
    cd = days[2]
    cutoff = f"{cd[:4]}-{cd[4:6]}-{cd[6:]} 00:00:00"

    def dying(*a):
        raise RuntimeError("injected crash before delete")

    monkeypatch.setattr(ret_mod, "_drop_partitions", dying)
    with pytest.raises(RuntimeError, match="injected"):
        apply_tier_retention(spark, state, drop_before=cutoff, run_id="killed")
    monkeypatch.undo()
    assert _days(spark, f"{state}/rollup_1h") == days

    apply_tier_retention(spark, state, drop_before=cutoff, run_id="rerun")
    assert _days(spark, f"{state}/rollup_1h") == days[2:]
    logged = [
        r.source for r in spark.read.parquet(f"{state}/tier_retention").collect()
    ]
    assert sorted(logged) == [f"bucket_part={d}" for d in days[:2]]
