"""Resume-from-checkpoint equivalence: a run interrupted after K buckets and
then resumed must produce byte-identical retained rows and a complete,
non-duplicated commit log (FIXTURES.md §4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rasusa_spark.plans.checkpoint import (
    DownsampleJob,
    read_commit_log,
    read_retained,
    run_downsample_job,
)
from rasusa_spark.synth import tokens_raw_df


@pytest.fixture(scope="module")
def raw2k(spark):
    df = tokens_raw_df(spark, 2000, with_tokens=False, partitions=4).cache()
    df.count()
    return df


JOB = DownsampleJob(seed=99, mode="bases", bases=5000)


def _rows(df):
    return sorted((r.doc_id, r.n_tok, r.source) for r in df.select("doc_id", "n_tok", "source").collect())


def test_resume_equals_single_shot(spark, raw2k, tmp_path):
    single_out = str(tmp_path / "single_out")
    single_ck = str(tmp_path / "single_ck")
    run_downsample_job(spark, raw2k, JOB, single_out, single_ck, run_id="r0")
    truth = _rows(read_retained(spark, single_out))
    assert truth, "single-shot run kept no rows"

    # interrupted run: only 9 buckets committed, then "crash"
    res_out = str(tmp_path / "res_out")
    res_ck = str(tmp_path / "res_ck")
    first = run_downsample_job(
        spark, raw2k, JOB, res_out, res_ck, run_id="r1", max_buckets=9
    )
    assert first.count() == 9
    # resume: must process only the remaining buckets
    second = run_downsample_job(spark, raw2k, JOB, res_out, res_ck, run_id="r2")
    commits = read_commit_log(spark, res_ck)
    total_buckets = (
        raw2k.select("source", F.date_trunc("day", "ts").alias("b")).distinct().count()
    )
    assert commits.count() == total_buckets  # no bucket committed twice
    assert second.count() == total_buckets - 9
    assert _rows(read_retained(spark, res_out)) == truth


def test_preserve_order_writes_input_order(spark, raw2k, tmp_path):
    """P2 ordered-write option (fastx.rs:338-392: pass-2 emits records in
    input order): with preserve_order=True every retained partition is one
    file sorted by row_idx, so reading a partition back yields retained rows
    exactly in input order — for the set-semantics strategies too."""
    import glob

    for strategy in ("threshold", "window"):
        job = DownsampleJob(seed=99, mode="bases", bases=5000, strategy=strategy)
        out = str(tmp_path / f"ordered_{strategy}")
        ck = str(tmp_path / f"ordered_{strategy}_ck")
        run_downsample_job(
            spark, raw2k, job, out, ck, run_id="r0", preserve_order=True
        )
        part_dirs = sorted(glob.glob(f"{out}/retained/source=*/bucket_id=*"))
        assert part_dirs
        for d in part_dirs[:6]:
            files = glob.glob(f"{d}/*.parquet")
            assert len(files) == 1, f"{d}: expected ONE sorted file"
            idx = [r.row_idx for r in spark.read.parquet(files[0]).collect()]
            assert idx == sorted(idx), f"{d} not in input order"
        # same retained SET as the unordered write
        plain_out = str(tmp_path / f"plain_{strategy}")
        run_downsample_job(
            spark, raw2k, job, plain_out, str(tmp_path / f"plain_{strategy}_ck"),
            run_id="r1",
        )
        assert _rows(read_retained(spark, out)) == _rows(
            read_retained(spark, plain_out)
        )


def test_commit_log_lineage_fields(spark, raw2k, tmp_path):
    out, ck = str(tmp_path / "o"), str(tmp_path / "c")
    run_downsample_job(spark, raw2k, JOB, out, ck, run_id="runA")
    commits = read_commit_log(spark, ck).collect()
    assert all(c.seed == 99 for c in commits)
    assert all(c.group_seed is not None for c in commits)
    assert all(c.rows_kept <= c.rows_seen for c in commits)
    assert all(c.watermark is not None for c in commits)
    ordinals = sorted(c.committed_at_ordinal for c in commits)
    assert ordinals == list(range(1, len(commits) + 1))
    # per-bucket budget semantics recorded in metrics: kept tokens cross the
    # budget by at most one row's worth or the bucket is fully kept
    for c in commits:
        assert c.n_tok_kept == c.n_tok_seen or c.n_tok_kept >= JOB.bases


def test_hourly_bucket_unit_resume_keeps_sibling_hours(spark, raw2k, tmp_path):
    """ADVICE r1 (medium) regression: with bucket_unit='hour' the physical
    partition must be the commit unit itself — a resumed run's dynamic
    partition overwrite must NOT delete other hours of the same day that
    were committed by the interrupted run."""
    job = DownsampleJob(seed=7, mode="bases", bases=3000, bucket_unit="hour")
    single_out, single_ck = str(tmp_path / "so"), str(tmp_path / "sc")
    run_downsample_job(spark, raw2k, job, single_out, single_ck, run_id="h0")
    truth = _rows(read_retained(spark, single_out))
    assert truth

    res_out, res_ck = str(tmp_path / "ro"), str(tmp_path / "rc")
    first = run_downsample_job(
        spark, raw2k, job, res_out, res_ck, run_id="h1", max_buckets=5
    )
    assert first.count() == 5
    run_downsample_job(spark, raw2k, job, res_out, res_ck, run_id="h2")
    assert _rows(read_retained(spark, res_out)) == truth
    # commit log holds every hour bucket exactly once
    commits = read_commit_log(spark, res_ck)
    n_buckets = (
        raw2k.select("source", F.date_trunc("hour", "ts")).distinct().count()
    )
    assert commits.count() == n_buckets


def test_rerun_after_completion_is_noop(spark, raw2k, tmp_path):
    out, ck = str(tmp_path / "o2"), str(tmp_path / "c2")
    run_downsample_job(spark, raw2k, JOB, out, ck, run_id="x1")
    before = _rows(read_retained(spark, out))
    again = run_downsample_job(spark, raw2k, JOB, out, ck, run_id="x2")
    assert again.count() == 0  # nothing left to do
    assert _rows(read_retained(spark, out)) == before


# ---------------------------------------------------------------------------
# retention policy (plans/retention.py)
# ---------------------------------------------------------------------------


def _setup_store(spark, raw2k, tmp_path, name):
    """Run the job and write the 1h tier next to it (run_job --rollup shape)."""
    import os

    from rasusa_spark.operators.rollup import rollup_all_tiers

    out, ck = str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_ck")
    run_downsample_job(spark, raw2k, JOB, out, ck, run_id="r0")
    kept = read_retained(spark, out)
    tiers = rollup_all_tiers(kept, fill=False)
    for tname, tdf in tiers.items():
        tdf.write.mode("overwrite").parquet(os.path.join(out, f"rollup_{tname}"))
    return out, ck


def test_retention_drops_covered_partitions(spark, raw2k, tmp_path):
    from rasusa_spark.plans.retention import apply_retention, read_retention_log

    out, ck = _setup_store(spark, raw2k, tmp_path, "ret1")
    before = read_retained(spark, out)
    buckets = sorted(
        r.bucket_start for r in before.select("bucket_start").distinct().collect()
    )
    cutoff = buckets[len(buckets) // 2]
    n_doomed = before.where(F.col("bucket_start") < F.lit(cutoff)).count()
    n_keep = before.count() - n_doomed
    assert n_doomed > 0 and n_keep > 0

    log = apply_retention(
        spark, out, drop_before=str(cutoff), tier="1h",
        run_id="ret-run", checkpoint_path=ck,
    )
    dropped = log.agg(F.sum("rows_dropped")).collect()[0][0]
    assert dropped == n_doomed
    after = read_retained(spark, out)
    assert after.count() == n_keep
    assert after.where(F.col("bucket_start") < F.lit(cutoff)).count() == 0
    # lineage survives the drop: retention log holds the dropped span
    rl = read_retention_log(spark, ck)
    assert rl.where(F.col("run_id") == "ret-run").count() == log.count()
    # the tier still holds the aggregates for the dropped span
    tier = spark.read.parquet(f"{out}/rollup_1h")
    assert tier.where(F.col("bucket_start") < F.lit(cutoff)).count() > 0


def test_retention_refuses_uncovered_span(spark, raw2k, tmp_path):
    import os

    from rasusa_spark.plans.retention import RetentionError, apply_retention

    out, ck = _setup_store(spark, raw2k, tmp_path, "ret2")
    # sabotage the tier: remove one day's aggregates
    tier_path = os.path.join(out, "rollup_1h")
    tier = spark.read.parquet(tier_path)
    first_day = tier.agg(F.min("bucket_start")).collect()[0][0]
    tier.where(
        F.date_trunc("day", "bucket_start") != F.date_trunc("day", F.lit(first_day))
    ).write.mode("overwrite").parquet(str(tmp_path / "ret2_tier_holed"))
    spark.read.parquet(str(tmp_path / "ret2_tier_holed")).write.mode(
        "overwrite"
    ).parquet(tier_path)

    before = read_retained(spark, out)
    n_before = before.count()
    buckets = sorted(
        r.bucket_start for r in before.select("bucket_start").distinct().collect()
    )
    cutoff = buckets[len(buckets) // 2]
    with pytest.raises(RetentionError):
        apply_retention(spark, out, drop_before=str(cutoff), tier="1h",
                        checkpoint_path=ck)
    # nothing was deleted
    assert read_retained(spark, out).count() == n_before


def test_retention_noop_before_first_bucket(spark, raw2k, tmp_path):
    from rasusa_spark.plans.retention import apply_retention

    out, ck = _setup_store(spark, raw2k, tmp_path, "ret3")
    log = apply_retention(
        spark, out, drop_before="1990-01-01 00:00:00", tier="1h",
        checkpoint_path=ck,
    )
    assert log.count() == 0


def test_tier_retention_drops_covered_fine_partitions(spark, raw2k, tmp_path):
    """1h partitions older than a day-aligned cutoff drop once the 1d
    store covers them bit-for-bit; the 1d store and the surviving 1h tail
    are untouched; the drop is logged; the totals story stays intact:
    surviving-1h + dropped-log == 1d total."""
    import os

    from pyspark.sql import functions as F

    from rasusa_spark.plans.retention import (
        RetentionError,
        apply_tier_retention,
    )
    from rasusa_spark.streaming.incremental import merge_increment

    state = str(tmp_path / "tstate")
    merge_increment(spark, "rollup", raw2k, state, tier="1h")
    merge_increment(spark, "rollup", raw2k, state, tier="1d", allow_late=True)

    h1 = spark.read.parquet(f"{state}/rollup_1h")
    days = sorted(
        str(r.bucket_part)
        for r in h1.select("bucket_part").distinct().collect()
    )
    assert len(days) >= 3
    cut_day = days[2]
    cutoff = f"{cut_day[:4]}-{cut_day[4:6]}-{cut_day[6:]} 00:00:00"
    total_1h_before = h1.agg(F.sum("n_tok_sum")).first()[0]

    # unaligned cutoff refused outright
    import pytest as _pytest

    with _pytest.raises(ValueError, match="aligned"):
        apply_tier_retention(
            spark, state, drop_before=f"{cutoff[:11]}07:00:00"
        )

    log = apply_tier_retention(spark, state, drop_before=cutoff)
    dropped_days = {r.source.split("=")[1] for r in log.collect()}
    assert dropped_days == set(days[:2])
    left = spark.read.parquet(f"{state}/rollup_1h")
    assert sorted(
        str(r.bucket_part)
        for r in left.select("bucket_part").distinct().collect()
    ) == days[2:]
    # conservation: surviving fine + logged drops == coarse total
    dropped_tok = sum(r.n_tok_dropped for r in log.collect())
    left_tok = left.agg(F.sum("n_tok_sum")).first()[0]
    d1_tok = (
        spark.read.parquet(f"{state}/rollup_1d").agg(F.sum("n_tok_sum")).first()[0]
    )
    assert left_tok + dropped_tok == total_1h_before == d1_tok
    # idempotent: nothing left below the cutoff
    again = apply_tier_retention(spark, state, drop_before=cutoff)
    assert again.count() == 0


def test_tier_retention_refuses_uncovered(spark, raw2k, tmp_path):
    """A 1d store that does NOT cover the fine span (here: built from
    half the data) refuses the drop and deletes nothing."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from rasusa_spark.plans.retention import (
        RetentionError,
        apply_tier_retention,
    )
    from rasusa_spark.streaming.incremental import merge_increment

    state = str(tmp_path / "ustate")
    merge_increment(spark, "rollup", raw2k, state, tier="1h")
    merge_increment(
        spark, "rollup", raw2k.where(F.col("row_idx") < 500), state, tier="1d",
        allow_late=True,
    )
    h1 = spark.read.parquet(f"{state}/rollup_1h")
    days = sorted(
        str(r.bucket_part)
        for r in h1.select("bucket_part").distinct().collect()
    )
    cut_day = days[2]
    cutoff = f"{cut_day[:4]}-{cut_day[4:6]}-{cut_day[6:]} 00:00:00"
    n_before = h1.count()
    with _pytest.raises(RetentionError, match="does not cover"):
        apply_tier_retention(spark, state, drop_before=cutoff)
    assert spark.read.parquet(f"{state}/rollup_1h").count() == n_before


def test_tier_retention_requires_day_aligned_cutoff(spark, tmp_path):
    """ADVICE r4: deletion granularity is the bucket_part DAY partition,
    so a coarse='1h' cutoff that is hour-aligned but mid-day must be
    refused — it would delete whole day directories that still contain
    fine rows >= cutoff. The guard fires before any state is read."""
    from rasusa_spark.plans.retention import apply_tier_retention

    with pytest.raises(ValueError, match="DAY boundary"):
        apply_tier_retention(
            spark, str(tmp_path), drop_before="2026-04-07 07:00:00",
            fine="raw", coarse="1h",
        )
    with pytest.raises(ValueError, match="DAY boundary"):
        apply_tier_retention(
            spark, str(tmp_path), drop_before="2026-04-07 07:00:00",
            fine="raw", coarse="1h", kind="distinct",
        )
    # day-aligned cutoffs still reach the (missing) store, not the guard
    with pytest.raises(Exception, match="(?i)path does not exist"):
        apply_tier_retention(
            spark, str(tmp_path), drop_before="2026-04-07 00:00:00",
            fine="raw", coarse="1h",
        )


def test_retention_killed_before_delete_logs_once(spark, raw2k, tmp_path, monkeypatch):
    """A raw retention killed after it appended its log rows but before it
    deleted the partitions is completed by the rerun, and every dropped
    bucket is logged exactly once with its row count."""
    import rasusa_spark.plans.retention as ret_mod
    from rasusa_spark.plans.retention import apply_retention, read_retention_log

    out, ck = _setup_store(spark, raw2k, tmp_path, "ret4")
    before = read_retained(spark, out)
    buckets = sorted(
        r.bucket_start for r in before.select("bucket_start").distinct().collect()
    )
    cutoff = buckets[len(buckets) // 2]
    doomed = {
        (r.source, r.bucket_start): r["count"]
        for r in before.where(F.col("bucket_start") < F.lit(cutoff))
        .groupBy("source", "bucket_start")
        .count()
        .collect()
    }

    def dying(*a):
        raise RuntimeError("injected crash before delete")

    monkeypatch.setattr(ret_mod, "_drop_partitions", dying)
    with pytest.raises(RuntimeError, match="injected"):
        apply_retention(
            spark, out, drop_before=str(cutoff), run_id="killed", checkpoint_path=ck
        )
    monkeypatch.undo()
    assert read_retained(spark, out).count() == before.count()

    apply_retention(spark, out, drop_before=str(cutoff), run_id="rerun", checkpoint_path=ck)
    assert read_retained(spark, out).where(F.col("bucket_start") < F.lit(cutoff)).count() == 0
    logged = [
        (r.source, r.bucket_start, r.rows_dropped)
        for r in read_retention_log(spark, ck).collect()
    ]
    assert sorted(logged) == sorted((s, b, n) for (s, b), n in doomed.items())
