"""Timeseries operators beyond plain rollup: as-of join, LOCF/linear
gap-fill, and exact quantile rollups — the TimescaleDB/kdb-style surface a
tiered metric store needs (north_rule §2.5 extension; the reference has no
timeseries layer, these extend the engine's tier story the same way the
dedup stack extends SURVEY §2.12).

Scale shapes:

- ``asof_join`` is the classic operator Spark lacks natively. The naive
  range join (l.ts >= r.ts, max per left row) is O(|L|·|R|) per group;
  this implementation is the UNION-AND-CARRY form: tag both streams,
  shuffle ONCE on the group key, sort within partitions by (ts, tag), and
  carry the latest right-side values forward with
  ``last(ignorenulls=True)`` over an unbounded-preceding window. Cost is
  one shuffle + one in-partition sort over |L|+|R| rows — the same shape
  at 100 TB, with no join blowup possible.
- ``gap_fill_locf`` extends rollup.gap_fill's zero-fill with the
  TimescaleDB ``locf()`` (last-observation-carried-forward) and
  ``interpolate()`` (linear between surrounding observations) semantics,
  as pure window functions over the already-small aggregate table.
- ``rollup_quantiles`` uses Spark's exact ``percentile`` (interpolated,
  type-7 — same definition as DuckDB's ``quantile_cont``), map-side
  partial-aggregated like every other rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "ts",
    by: tuple[str, ...] | list[str] = ("source",),
    right_ts: str | None = None,
    value_cols: tuple[str, ...] | list[str] = ("n_tok_sum",),
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the matching right row within the same
    ``by`` group (DuckDB's ``ASOF JOIN``, kdb's ``aj``, pandas
    ``merge_asof`` — including its ``direction`` parameter):

    - ``'backward'`` (default): LATEST right row with ``right.ts <= left.ts``
    - ``'forward'``: EARLIEST right row with ``right.ts >= left.ts``
    - ``'nearest'``: whichever of the two is closer in time (tie → the
      backward match, i.e. the earlier right row)

    Returns all left columns plus each of ``value_cols`` and ``asof_ts``
    (the matched right timestamp; null when no right row qualifies, or
    when it is further than ``tolerance`` — an INTERVAL string like
    ``'2 hours'`` — from the left timestamp).

    A right row AT the left timestamp matches in every direction: at equal
    ts the right row sorts before the left row in the carry order.

    Both directions are the same union-and-carry plan — ONE shuffle on the
    group key; ``'nearest'`` adds a second in-partition sort (descending
    carry) over the same exchange, never a second shuffle.
    """
    by = list(by)
    direction_opts = ("backward", "forward", "nearest")
    if direction not in direction_opts:
        raise ValueError(
            f"unknown direction {direction!r}; use one of {direction_opts}"
        )
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        # ADVICE r3: a value_col that also exists on the left would be
        # carried from the LEFT row itself (the union keeps the left value
        # and last(ignorenulls) returns it as the "matched right value")
        # and the final select would emit a duplicate column name.
        raise ValueError(
            f"value_cols {sorted(overlap)} collide with left columns; "
            "rename the right-side value columns before the asof join"
        )
    rts = right_ts or on
    l_tag = left.withColumn("_r", F.lit(1))
    r_tag = right.select(
        *by,
        F.col(rts).alias(on),
        *[F.col(c) for c in value_cols],
    ).withColumn("_r", F.lit(0))

    # outer-union the two streams with each other's columns nulled
    left_cols = [c for c in left.columns]
    all_cols = left_cols + [c for c in value_cols if c not in left_cols]
    u = l_tag.select(
        *[
            F.col(c) if c in l_tag.columns else F.lit(None).alias(c)
            for c in all_cols
        ],
        F.lit(None).cast("timestamp").alias("_asof_ts"),
        "_r",
    ).unionByName(
        r_tag.select(
            *[
                F.col(c) if c in r_tag.columns else F.lit(None).alias(c)
                for c in all_cols
            ],
            F.col(on).alias("_asof_ts"),
            "_r",
        )
    )

    # backward carry: ascending ts, right rows (_r=0) before left at ties;
    # forward carry: DESCENDING ts, right rows still first at ties — the
    # exact mirror, sharing the one exchange on the group key.
    w_back = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("_r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).desc(), F.col("_r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def carry(w, suffix: str):
        return [
            F.last("_asof_ts", ignorenulls=True).over(w).alias(f"asof_ts{suffix}")
        ] + [
            F.last(c, ignorenulls=True).over(w).alias(f"_c{suffix}_{c}")
            for c in value_cols
        ]

    def gate(ts_col, suffix: str, cond):
        """Null out a side's match outside the tolerance window."""
        return [F.when(cond, ts_col).alias(f"asof_ts{suffix}")] + [
            F.when(cond, F.col(f"_c{suffix}_{c}")).alias(f"_c{suffix}_{c}")
            for c in value_cols
        ]

    if direction in ("backward", "forward"):
        w = w_back if direction == "backward" else w_fwd
        carried = u.select(*left_cols, "_r", *carry(w, "")).where(
            F.col("_r") == 1
        )
        if tolerance is not None:
            delta = F.expr(f"interval {tolerance}")
            in_window = (
                F.col("asof_ts") >= F.col(on) - delta
                if direction == "backward"
                else F.col("asof_ts") <= F.col(on) + delta
            )
            carried = carried.select(
                *left_cols, *gate(F.col("asof_ts"), "", in_window)
            )
        return carried.select(
            *left_cols,
            "asof_ts",
            *[F.col(f"_c_{c}").alias(c) for c in value_cols],
        )

    # nearest: both carries over the same exchange, then pick the closer
    # side per row (tie → backward, the earlier right row).
    carried = u.select(
        *left_cols, "_r", *carry(w_back, "_b"), *carry(w_fwd, "_f")
    ).where(F.col("_r") == 1)
    if tolerance is not None:
        delta = F.expr(f"interval {tolerance}")
        carried = carried.select(
            *left_cols,
            *gate(F.col("asof_ts_b"), "_b", F.col("asof_ts_b") >= F.col(on) - delta),
            *gate(F.col("asof_ts_f"), "_f", F.col("asof_ts_f") <= F.col(on) + delta),
        )
    # ADVICE r4: micros, not seconds — unix_timestamp truncation made
    # backward win any sub-second tie against a genuinely closer forward
    # match. unix_micros is the engine's native resolution everywhere else.
    back_dist = F.unix_micros(F.col(on)) - F.unix_micros(F.col("asof_ts_b"))
    fwd_dist = F.unix_micros(F.col("asof_ts_f")) - F.unix_micros(F.col(on))
    use_back = F.col("asof_ts_f").isNull() | (
        F.col("asof_ts_b").isNotNull() & (back_dist <= fwd_dist)
    )
    return carried.select(
        *left_cols,
        F.when(use_back, F.col("asof_ts_b"))
        .otherwise(F.col("asof_ts_f"))
        .alias("asof_ts"),
        *[
            F.when(use_back, F.col(f"_c_b_{c}"))
            .otherwise(F.col(f"_c_f_{c}"))
            .alias(c)
            for c in value_cols
        ],
    )


def asof_join_skinny(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    on: str = "ts",
    by: tuple[str, ...] | list[str] = ("source",),
    right_ts: str | None = None,
    value_cols: tuple[str, ...] | list[str] = ("n_tok_sum",),
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """``asof_join`` for WIDE left rows (the 100-TB training-sequence
    shape: a left row carries a multi-KB token array). The plain
    union-and-carry sorts every left column through the window — fine for
    skinny rows, but at scale the in-partition sort buffers hold the wide
    payloads. This variant carries only (by, ts, ``left_key``) through the
    union/sort, then equi-joins the wide left columns back on the unique
    ``left_key`` afterwards: the sort touches O(|L|+|R|) skinny rows, and
    the payload bytes move through exactly ONE hash shuffle (the re-join),
    never a sort.

    Same semantics/result as ``asof_join`` for every ``direction`` /
    ``tolerance`` (pinned by the equality pytest); requires ``left_key``
    to be unique per left row."""
    if left_key not in left.columns:
        raise ValueError(f"left_key {left_key!r} not in left columns")
    # ADVICE r4: asof_join only sees the skinny projection, so a value_col
    # colliding with a WIDE left column would sail through its overlap
    # check and the final re-join would emit two same-named columns.
    wide_overlap = set(value_cols) & set(left.columns)
    if wide_overlap:
        raise ValueError(
            f"value_cols {sorted(wide_overlap)} collide with left columns; "
            "rename the right-side value columns before the asof join"
        )
    skinny = left.select(left_key, *by, on)
    matched = asof_join(
        skinny,
        right,
        on=on,
        by=by,
        right_ts=right_ts,
        value_cols=value_cols,
        tolerance=tolerance,
        direction=direction,
    ).select(left_key, "asof_ts", *value_cols)
    return left.join(matched, on=left_key)


def gap_fill_locf(
    filled: DataFrame,
    *,
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok_sum",
    method: str = "locf",
) -> DataFrame:
    """Fill the GAP rows of a gap-filled aggregate (rollup.gap_fill output,
    ``gap_filled = true`` marks spine-only buckets) for one metric column:

    - ``method='locf'``: last observation carried forward (TimescaleDB
      ``locf()``); leading gaps (no prior observation) stay null.
    - ``method='linear'``: linear interpolation between the surrounding
      observations (TimescaleDB ``interpolate()``); gaps before the first
      or after the last observation stay null.

    Adds ``{value_col}_filled`` (double for linear, original type for
    locf); observed rows pass their value through unchanged. Window-only —
    one shuffle on the group key over the already-aggregated table.
    """
    group_cols = list(group_cols)
    obs = F.when(~F.col("gap_filled"), F.col(value_col))
    wp = Window.partitionBy(*group_cols).orderBy("bucket_start")
    prev_w = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    next_w = wp.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    out_col = f"{value_col}_filled"
    if method == "locf":
        return filled.withColumn(
            out_col, F.last(obs, ignorenulls=True).over(prev_w)
        )
    if method != "linear":
        raise ValueError(f"unknown fill method {method!r}; use locf|linear")
    obs_ts = F.when(~F.col("gap_filled"), F.col("bucket_start"))
    prev_v = F.last(obs, ignorenulls=True).over(prev_w)
    next_v = F.first(obs, ignorenulls=True).over(next_w)
    prev_t = F.last(obs_ts, ignorenulls=True).over(prev_w)
    next_t = F.first(obs_ts, ignorenulls=True).over(next_w)
    span = F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)
    frac = F.when(
        span > 0,
        (F.unix_timestamp("bucket_start") - F.unix_timestamp(prev_t)) / span,
    ).otherwise(F.lit(0.0))
    interp = prev_v.cast("double") + frac * (
        next_v.cast("double") - prev_v.cast("double")
    )
    return filled.withColumn(
        out_col,
        F.when(~F.col("gap_filled"), F.col(value_col).cast("double")).otherwise(
            F.when(prev_v.isNotNull() & next_v.isNotNull(), interp)
        ),
    )


def rollup_quantiles(
    df: DataFrame,
    tier: str,
    *,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok",
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-bucket exact quantiles of ``value_col`` (interpolated, type-7 —
    Spark ``percentile`` == DuckDB ``quantile_cont``), one column per
    requested probability (``p50``/``p90``/... naming). Same shuffle as
    every rollup: one groupBy on (group, bucket); for sketched quantiles
    at extreme cardinalities swap ``percentile`` for
    ``percentile_approx`` — identical plan shape."""
    from .rollup import bucket_expr

    def name(p: float) -> str:
        s = f"{p * 100:g}".replace(".", "_")
        return f"p{s}"

    return df.groupBy(
        *group_cols, bucket_expr(tier, ts_col).alias("bucket_start")
    ).agg(
        *[
            F.round(F.expr(f"percentile({value_col}, {p})"), 6).alias(name(p))
            for p in probs
        ],
        F.count(F.lit(1)).alias("row_count"),
    )


# ---------------------------------------------------------------------------
# arbitrary-width bucketing (TimescaleDB time_bucket)
# ---------------------------------------------------------------------------

#: epoch seconds of 2000-01-03 00:00:00 UTC — TimescaleDB's default
#: ``time_bucket`` origin (a Monday, so week-width buckets start Mondays).
TIME_BUCKET_ORIGIN_S = 946_857_600


def time_bucket_expr(
    width_s: int,
    ts_col: str = "ts",
    *,
    origin_s: int = TIME_BUCKET_ORIGIN_S,
):
    """TimescaleDB-style ``time_bucket``: floor ``ts`` to an arbitrary
    integer-second width anchored at ``origin_s`` (default 2000-01-03, the
    public TimescaleDB origin). ``date_trunc`` only reaches calendar units;
    this covers 15-minute / 90-second / 6-hour tiers.

    Pure integer micros arithmetic (``div`` truncation == floor for
    ``ts >= origin``, the only supported range) so the result is
    bit-reproducible against DuckDB's
    ``make_timestamp(o + ((epoch_us(ts) - o) // w) * w)`` — no float
    division anywhere, no cross-engine boundary rounding.

    Accepts both TIMESTAMP and TIMESTAMP_NTZ inputs (parquet scans land as
    NTZ; ``unix_micros`` only takes TIMESTAMP) — the inner cast is lossless
    because the engine pins ``spark.sql.session.timeZone=UTC``
    (session.py:30). The result is emitted as TIMESTAMP_NTZ so bucket
    boundaries compare naively against DuckDB's ``make_timestamp``."""
    if width_s <= 0:
        raise ValueError(f"width_s must be positive, got {width_s}")
    o_us = origin_s * 1_000_000
    w_us = width_s * 1_000_000
    return F.expr(
        f"cast(timestamp_micros({o_us}L + ((unix_micros(cast({ts_col} as"
        f" timestamp)) - {o_us}L) div {w_us}L) * {w_us}L) as timestamp_ntz)"
    )


def rollup_bucketed(
    df: DataFrame,
    width_s: int,
    *,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """The §2.5 continuous aggregate over an arbitrary ``time_bucket``
    width instead of a ``date_trunc`` calendar tier — same single
    map-side-combinable groupBy shuffle, same integer accumulators (so
    coarser re-rolls of an exact multiple width stay bit-equal)."""
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    return df.groupBy(*group_cols, b.alias("bucket_start")).agg(
        F.sum(F.col(value_col).cast("long")).alias("n_tok_sum"),
        F.count(F.lit(1)).alias("row_count"),
        F.min(value_col).alias("n_tok_min"),
        F.max(value_col).alias("n_tok_max"),
    )


# ---------------------------------------------------------------------------
# visual-fidelity downsampling: M4 and LTTB
# ---------------------------------------------------------------------------


def m4_downsample(
    df: DataFrame,
    width_s: int,
    *,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (group, pixel
    bucket) keep min/max/first/last of the metric — the error-free
    aggregation for line-chart rendering at any zoom width.

    One combinable groupBy; first/last are ``min``/``max`` over a
    ``struct(ts, value)`` (lexicographic, ties broken by value) so the
    result is deterministic under any partitioning and mirrors the DuckDB
    oracle's ``list(v ORDER BY ts, v)[1]``. At 100 TB this is the same
    plan as every rollup tier: map-side partials collapse each bucket to
    one row before the single (group, bucket) shuffle."""
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    return (
        df.groupBy(*group_cols, b.alias("bucket_start"))
        .agg(
            F.min(value_col).alias("v_min"),
            F.max(value_col).alias("v_max"),
            F.min(F.struct(ts_col, value_col)).alias("_first"),
            F.max(F.struct(ts_col, value_col)).alias("_last"),
            F.count(F.lit(1)).alias("row_count"),
        )
        .select(
            *group_cols,
            "bucket_start",
            "v_min",
            "v_max",
            F.col(f"_first.{ts_col}").alias("ts_first"),
            F.col(f"_first.{value_col}").alias("v_first"),
            F.col(f"_last.{ts_col}").alias("ts_last"),
            F.col(f"_last.{value_col}").alias("v_last"),
            "row_count",
        )
    )


def _m4_prereduce(
    sel: DataFrame,
    max_points: int,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Distributed bound on LTTB's per-group gather: for groups with more
    than ``max_points`` rows, keep only the M4 representatives (first /
    last / value-min / value-max ROW) of ``max_points // 4`` equal-width
    time buckets — a map-side-combinable groupBy, so no task ever scans a
    whole oversized group. In-bound groups pass through byte-identical.

    Determinism: representatives are picked by ``min_by``/``max_by`` on
    composite (value?, micros, id) orderings, so ties never depend on
    partition layout. The exploded representative set is de-duplicated
    (a row can be first AND min) — still ≤ 4 points per fine bucket."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))  # NTZ-safe
    stats = sel.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_grp_n"),
        F.min(us).alias("_grp_lo"),
        F.max(us).alias("_grp_hi"),
    )
    joined = sel.join(stats, on=group_cols)
    inbound = joined.where(F.col("_grp_n") <= max_points).drop(
        "_grp_n", "_grp_lo", "_grp_hi"
    )
    n_buckets = max_points // 4
    width = F.greatest(
        (F.col("_grp_hi") - F.col("_grp_lo") + F.lit(n_buckets))
        / F.lit(n_buckets),
        F.lit(1),
    ).cast("long")
    big = joined.where(F.col("_grp_n") > max_points).withColumn(
        "_fine", ((us - F.col("_grp_lo")) / width).cast("long")
    )
    row = F.struct(id_col, ts_col, value_col)
    t_key = F.struct(us.alias("u"), F.col(id_col).alias("i"))
    v_key = F.struct(
        F.col(value_col).alias("v"), us.alias("u"), F.col(id_col).alias("i")
    )
    reps = big.groupBy(*group_cols, "_fine").agg(
        F.min_by(row, t_key).alias("_first"),
        F.max_by(row, t_key).alias("_last"),
        F.min_by(row, v_key).alias("_vmin"),
        F.max_by(row, v_key).alias("_vmax"),
    )
    reduced = (
        reps.select(
            *group_cols,
            F.explode(
                F.array_distinct(F.array("_first", "_last", "_vmin", "_vmax"))
            ).alias("_r"),
        )
        .select(*group_cols, "_r.*")
        .select(*group_cols, id_col, ts_col, value_col)
    )
    return inbound.unionByName(reduced)


def lttb_downsample(
    df: DataFrame,
    n_out: int,
    *,
    group_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    max_points: int | None = 262_144,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013, the
    public visual-downsampling standard): reduce each group's series to
    ``n_out`` points — first and last kept, and one point per bucket
    chosen to maximize the triangle area with the previously SELECTED
    point and the NEXT bucket's centroid. Groups with ≤ ``n_out`` points
    pass through untouched.

    Semantics pinned for cross-engine reproducibility (the driver oracle
    re-derives the selection in unrolled SQL):

    - total order: (epoch micros, ``id_col``); 1-based rank ``rn``.
    - middle points ``rn`` in [2, n-1] get bucket
      ``b = ((rn-2)*(n_out-2)) // (n-2) + 1`` — a pure per-row integer
      formula (identical in SQL), monotone in ``rn``, surjective onto
      [1, n_out-2] whenever n > n_out.
    - x is epoch micros REBASED to the group min (keeps centroid integer
      sums inside int64; triangle areas are translation-invariant).
    - bucket b+1's centroid = CAST(sum AS DOUBLE)/count of exact integer
      sums (one IEEE division — bit-identical in any engine); for the
      last bucket the "centroid" is the final point.
    - area comparison uses 2·area = |(px-cx)(v-py) - (px-x)(cy-py)| in
      float64 with exactly this operand order; ties pick the smallest rn.

    Scale shape: ``applyInPandas`` over the group key — the in-group scan
    is numpy-vectorized per bucket (the only Python loop is over the
    ``n_out`` output buckets, never rows). Groups are (source, day)-sized
    slices at 100 TB, so per-task memory is one group's points.

    ``max_points`` bounds the per-task gather (VERDICT r4: nothing used to
    enforce the group-size contract — an unbucketed mega-series meant one
    straggler/OOM task). Groups larger than ``max_points`` are first
    reduced DISTRIBUTEDLY with a time-bucketed M4 pass (min/max/first/last
    row per fine bucket — one combinable groupBy, never a single-task
    scan) to ≤ ``max_points`` representative points, then LTTB runs on the
    reduction. In-bound groups pass through the pre-reduce UNTOUCHED, so
    results are unchanged wherever the old code worked; oversized groups
    get the standard visual approximation (M4 preserves every fine-bucket
    extreme — the same argument Jugel et al. make for M4 itself) instead
    of an unbounded task. Default 262_144 points ≈ a few MB per task."""
    import numpy as np

    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")
    if max_points is not None and max_points < 4 * n_out:
        raise ValueError(
            f"max_points={max_points} must be >= 4*n_out={4 * n_out} "
            "(the M4 pre-reduce emits up to 4 points per fine bucket)"
        )

    sel = df.select(*group_cols, id_col, ts_col, value_col)
    if max_points is not None:
        sel = _m4_prereduce(
            sel, max_points, list(group_cols), ts_col, value_col, id_col
        )
    n_mid = n_out - 2

    def kernel(pdf):
        n = len(pdf)
        if n <= n_out:
            return pdf
        xu = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
        ids = pdf[id_col].values
        order = np.lexsort((ids, xu))
        pdf = pdf.iloc[order].reset_index(drop=True)
        xi = xu[order] - int(xu.min())  # rebased int64 micros
        vi = pdf[value_col].values.astype("int64")
        x = xi.astype("float64")
        v = vi.astype("float64")
        # contiguous bucket slices from the per-point assignment formula:
        # middle 0-based idx i (1..n-2) -> b = ((i-1)*n_mid)//(n-2) + 1
        i_mid = np.arange(1, n - 1)
        b_of = ((i_mid - 1) * n_mid) // (n - 2) + 1
        starts = 1 + np.searchsorted(b_of, np.arange(1, n_mid + 2))
        keep = [0]
        prev_x, prev_y = x[0], v[0]
        for k in range(1, n_mid + 1):
            lo, hi = starts[k - 1], starts[k]
            if k < n_mid:
                nlo, nhi = starts[k], starts[k + 1]
                cnt = nhi - nlo
                cx = float(int(xi[nlo:nhi].sum())) / cnt
                cy = float(int(vi[nlo:nhi].sum())) / cnt
            else:
                cx, cy = x[n - 1], v[n - 1]
            area2 = np.abs(
                (prev_x - cx) * (v[lo:hi] - prev_y)
                - (prev_x - x[lo:hi]) * (cy - prev_y)
            )
            j = lo + int(np.argmax(area2))
            keep.append(j)
            prev_x, prev_y = x[j], v[j]
        keep.append(n - 1)
        return pdf.iloc[keep]

    return sel.groupBy(*group_cols).applyInPandas(kernel, sel.schema)


# ---------------------------------------------------------------------------
# gap-based sessionization, reset-aware counter rate, time-weighted average
# ---------------------------------------------------------------------------


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: group each user's events into sessions
    separated by more than ``gap`` of inactivity — the classic web/event
    analytics operator (and the reference's read-group analog: reads that
    belong together are processed together, SURVEY §2.6).

    Spark-first: this IS the built-in ``F.session_window`` aggregation
    (JVM-side session assignment, map-side combinable) — no window-lag +
    cumsum re-derivation needed. One shuffle on ``user_col``; session
    merging happens inside the aggregate, so the 100-TB shape is a single
    (user)-keyed exchange.

    Output: one row per (user, session) with ``session_start`` (min ts),
    ``session_end`` (max ts), ``n_events``, ``duration_s`` (integer seconds,
    0 for singletons) and, when ``value_col`` is given, its integer sum.
    Session MEMBERSHIP is tie-order-invariant (equal timestamps never open
    a gap), so the result is deterministic under any partitioning.

    Boundary contract (probed, pinned by test): a gap of EXACTLY ``gap``
    still merges — a new session opens only when the inter-event gap is
    strictly greater (oracle: ``ts - lag(ts) > INTERVAL gap``)."""
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("long")).alias(f"{value_col}_sum"))
    out = (
        df.groupBy(user_col, F.session_window(ts_col, gap).alias("_sw"))
        .agg(*aggs)
        .drop("_sw")
    )
    return out.withColumn(
        "duration_s",
        (
            F.unix_micros(F.col("session_end").cast("timestamp"))
            - F.unix_micros(F.col("session_start").cast("timestamp"))
        )
        / F.lit(1_000_000),
    ).withColumn("duration_s", F.col("duration_s").cast("long"))


def counter_increase(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Reset-aware counter ``increase`` per (series, bucket) — the public
    Prometheus/PromQL counter semantics: a counter only goes up; a sample
    LOWER than its predecessor means the counter reset, and the sample's
    full value counts as new increase.

    Pinned contract (integer-exact, so the DuckDB oracle hash-matches):

    - total order within a series: (``ts``, ``id_col``) — ties broken by
      the unique id identically in both engines;
    - per sample: ``delta = v - lag(v)``; contribution =
      ``v`` if ``delta < 0`` (reset) else ``delta``; the series' FIRST
      sample contributes 0 (no predecessor — no extrapolation, unlike
      PromQL's range-vector estimate, so the result is exact);
    - a sample's contribution lands in ITS OWN time bucket
      (``time_bucket_expr`` boundaries).

    Scale shape: one window over ``series_cols`` (single shuffle +
    in-partition sort) feeding one combinable groupBy on (series, bucket).
    ``rate_per_s`` = increase / bucket width, one IEEE division."""
    wd = Window.partitionBy(*series_cols).orderBy(ts_col, id_col)
    v = F.col(value_col).cast("long")
    prev = F.lag(v).over(wd)
    contrib = (
        F.when(prev.isNull(), F.lit(0))
        .when(v < prev, v)
        .otherwise(v - prev)
    )
    is_reset = F.when(prev.isNotNull() & (v < prev), 1).otherwise(0)
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    return (
        df.withColumn("_inc", contrib)
        .withColumn("_rst", is_reset)
        .groupBy(*series_cols, b.alias("bucket_start"))
        .agg(
            F.sum("_inc").alias("increase"),
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("_rst").alias("n_resets"),
        )
        .withColumn(
            "rate_per_s",
            F.col("increase").cast("double") / F.lit(float(width_s)),
        )
    )


def gauge_delta(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Gauge ``delta`` per (series, bucket) — the public PromQL semantics
    for GAUGE metrics (``counter_increase`` covers counters; gauges go up
    AND down, so the meaningful per-bucket change is last − first, no
    reset folding, VERDICT r4 Next #7).

    Pinned contract (integer-exact, so the DuckDB oracle hash-matches):

    - total order within (series, bucket): (``ts``, ``id_col``) — ties
      broken by the unique id identically in both engines;
    - ``v_first``/``v_last`` = value at that order's endpoints;
      ``delta`` = v_last − v_first (int64 — exact; a singleton bucket's
      delta is 0); no cross-bucket extrapolation, unlike PromQL's
      range-vector estimate, so the result is exact and mergeable:
      re-rolling to a coarser tier = min_by/max_by over (first_ts,
      last_ts) carriers (same argument as the M4 tier).
    - ``rate_per_s`` = delta / width — one IEEE division.

    Scale shape: ONE map-side-combinable groupBy (``min_by``/``max_by``
    on the composite order key — no window, no per-series sort), i.e. the
    same single (series, bucket) exchange as every other tier. Plan note
    (PLANS.md): the struct-typed min_by buffer makes Spark pick
    SortAggregate over HashAggregate — still partial+final around one
    exchange (map-side combine intact); the within-partition sort on the
    group key is the price of the composite order key."""
    v = F.col(value_col).cast("long")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    okey = F.struct(us.alias("u"), F.col(id_col).alias("i"))
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    return (
        df.groupBy(*series_cols, b.alias("bucket_start"))
        .agg(
            F.min_by(v, okey).alias("v_first"),
            F.max_by(v, okey).alias("v_last"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            *series_cols,
            "bucket_start",
            "v_first",
            "v_last",
            (F.col("v_last") - F.col("v_first")).alias("delta"),
            "n_samples",
            (
                (F.col("v_last") - F.col("v_first")).cast("double")
                / F.lit(float(width_s))
            ).alias("rate_per_s"),
        )
    )


def topn_rollup(
    df: DataFrame,
    width_s: int,
    n: int,
    *,
    key_col: str = "user_id",
    series_cols: tuple[str, ...] | list[str] = (),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Top-N keys per (series, bucket) by metric sum, with every remaining
    key collapsed into one ``__others__`` row — the TimescaleDB/Grafana
    "top N + others" dashboard rollup (VERDICT r4 Next #7): the output is
    bounded at (n+1) rows per bucket no matter the key cardinality, while
    totals stay conserved (Σ value over the output == Σ value over the
    input bucket — pinned by test).

    Pinned contract: rank by (value_sum DESC, key ASC) — the tie-break is
    total, so the cut is deterministic and layout-invariant; ``n_keys``
    counts the distinct keys each output row absorbed (1 for top rows).

    Scale shape: ONE combinable groupBy to (series, bucket, key) — the
    only pass over raw data — then a rank window over the AGGREGATED
    table (partition size = keys per bucket) and a second skinny groupBy
    to fold the tail. The window never sees raw rows; at extreme per-
    bucket key cardinality the aggregate itself is the state to bound
    (use cms/heavy-hitters to pre-select candidate keys)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    agg = topn_partials(
        df,
        width_s,
        key_col=key_col,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        origin_s=origin_s,
    ).withColumnRenamed(key_col, "_key")
    return _topn_finalize(agg, n, key_col, series_cols)


def topn_partials(
    df: DataFrame,
    width_s: int,
    *,
    key_col: str = "user_id",
    series_cols: tuple[str, ...] | list[str] = (),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """The top-N tier's mergeable STATE (VERDICT r5 Next #8): per
    (series, bucket, key) exact integer (value_sum, n_rows) — the one
    data-scale combinable groupBy. Integer sums are exactly associative,
    so the carrier re-rolls to coarser tiers (``topn_from_finer``) and
    merges O(delta) (``merge_increment(kind="topn")``) bit-for-bit; any
    top-N cut over the re-rolled carrier equals the cut over raw."""
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    return df.groupBy(
        *series_cols, b.alias("bucket_start"), F.col(key_col).alias(key_col)
    ).agg(
        F.sum(F.col(value_col).cast("long")).alias("value_sum"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def topn_from_finer(
    partials: DataFrame,
    width_s: int,
    *,
    key_col: str = "user_id",
    series_cols: tuple[str, ...] | list[str] = (),
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Re-roll the top-N carrier to ``width_s`` buckets WITHOUT touching
    raw: ONE skinny combinable groupBy over the already-aggregated
    (bucket, key) table. Output schema == ``topn_partials`` at
    ``width_s``; bit-equal to building from raw (integer sums)."""
    b = time_bucket_expr(width_s, "bucket_start", origin_s=origin_s)
    return (
        partials.withColumn("bucket_start", b)
        .groupBy(*series_cols, "bucket_start", key_col)
        .agg(
            F.sum("value_sum").alias("value_sum"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


def topn_finalize(
    partials: DataFrame,
    n: int,
    *,
    key_col: str = "user_id",
    series_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """``topn_rollup``-shaped output from a carrier table: the rank window
    + ``__others__`` fold over the AGGREGATED (bucket, key) rows only."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return _topn_finalize(
        partials.withColumnRenamed(key_col, "_key"), n, key_col, series_cols
    )


def _topn_finalize(
    agg: DataFrame,
    n: int,
    key_col: str,
    series_cols: tuple[str, ...] | list[str],
) -> DataFrame:
    wd = Window.partitionBy(*series_cols, "bucket_start").orderBy(
        F.desc("value_sum"), F.asc("_key")
    )
    ranked = agg.withColumn("_rk", F.row_number().over(wd))
    # a GENUINE key equal to the sentinel would silently merge with the
    # tail row (ADVICE r5) — refuse loudly instead, at zero extra scans
    # (the raise rides the existing projection as a lazy when-branch)
    key_out = (
        F.when(
            F.col("_key").cast("string") == F.lit("__others__"),
            F.raise_error(
                F.lit(
                    "topn_rollup: key column contains the reserved "
                    "sentinel '__others__' — rename that key upstream"
                )
            ),
        )
        .when(F.col("_rk") <= n, F.col("_key").cast("string"))
        .otherwise(F.lit("__others__"))
    )
    return ranked.groupBy(
        *series_cols, "bucket_start", key_out.alias(key_col)
    ).agg(
        F.sum("value_sum").alias("value_sum"),
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )


def gauge_deriv(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Per-(series, bucket) least-squares slope of value over time — the
    public PromQL ``deriv()`` semantics (simple linear regression), in
    value-units per second.

    Pinned cross-engine contract: the regression runs over INTEGER
    carriers — t = whole seconds since the bucket start (``floor``;
    sub-second phase within a second is deliberately ignored, stated
    resolution), v = int64 value — so the five sufficient statistics
    (n, Σt, Σv, Σtv, Σt²) are exact integer sums (order-independent,
    ANSI-guarded: an overflow THROWS rather than silently wrapping; with
    t ≤ width ≤ 86400 the Σt² headroom is ~1.2e9 rows per bucket). Only
    the final per-group scalar expression runs in IEEE doubles —
    ``slope = (n·Σtv − Σt·Σv) / (n·Σt² − (Σt)²)`` — the same expression
    tree the DuckDB oracle evaluates, so the doubles match bit-for-bit.
    Buckets with < 2 samples or zero time-variance emit null slope.

    Scale shape: ONE map-side-combinable groupBy carrying five integer
    aggregates — the same single (series, bucket) exchange as every
    other tier. The statistics are exactly MERGEABLE to coarser buckets
    via re-basing (``deriv_from_finer``): t is bucket-relative, so a
    fine bucket at offset Δ seconds into the coarse bucket contributes
    Σt' = Σt + nΔ, Σt'² = Σt² + 2ΔΣt + nΔ², Σt'v = Σtv + ΔΣv — pure
    integer algebra, so the cascaded slope is bit-equal to computing
    directly from raw (pinned by test + the deriv_rerolled_1d oracle)."""
    agg = deriv_partials(
        df,
        width_s,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        origin_s=origin_s,
    )
    return _deriv_finalize(agg, series_cols)


def deriv_partials(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """The regression tier's STATE: per-(series, bucket) integer
    sufficient statistics (n_samples, Σt, Σv, Σtv, Σt²) with t = whole
    seconds since the bucket start. One combinable groupBy; see
    ``gauge_deriv`` for the contract."""
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bus = F.unix_micros(F.col("bucket_start").cast("timestamp"))
    v = F.col(value_col).cast("long")
    return (
        df.withColumn("bucket_start", b)
        .withColumn("_t", ((us - bus) / F.lit(1_000_000)).cast("long"))
        .groupBy(*series_cols, "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("_t").alias("_st"),
            F.sum(v).alias("_sv"),
            F.sum(F.col("_t") * v).alias("_stv"),
            F.sum(F.col("_t") * F.col("_t")).alias("_stt"),
        )
    )


def deriv_from_finer(
    partials: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Re-roll deriv statistics from a finer tier to ``width_s`` buckets
    WITHOUT touching raw data — the O(delta)/tier-cascade story for the
    regression carrier. Each fine bucket sits at integer offset
    Δ = fine_start − coarse_start seconds; re-basing its t-moments is
    exact integer algebra (see ``gauge_deriv``), then one combinable
    groupBy sums the re-based carriers. Output schema == deriv_partials
    at ``width_s``, and the values are bit-identical to building the
    coarse tier from raw (ANSI guards any Σt'² overflow loudly)."""
    b = time_bucket_expr(width_s, "bucket_start", origin_s=origin_s)
    fine_us = F.unix_micros(F.col("bucket_start").cast("timestamp"))
    coarse_us = F.unix_micros(F.col("_coarse").cast("timestamp"))
    d = ((fine_us - coarse_us) / F.lit(1_000_000)).cast("long")
    n = F.col("n_samples")
    rebased = (
        partials.withColumn("_coarse", b)
        .withColumn("_d", d)
        .select(
            *series_cols,
            F.col("_coarse").alias("bucket_start"),
            n.alias("n_samples"),
            (F.col("_st") + n * F.col("_d")).alias("_st"),
            F.col("_sv"),
            (F.col("_stv") + F.col("_d") * F.col("_sv")).alias("_stv"),
            (
                F.col("_stt")
                + F.lit(2) * F.col("_d") * F.col("_st")
                + n * F.col("_d") * F.col("_d")
            ).alias("_stt"),
        )
    )
    return rebased.groupBy(*series_cols, "bucket_start").agg(
        F.sum("n_samples").alias("n_samples"),
        F.sum("_st").alias("_st"),
        F.sum("_sv").alias("_sv"),
        F.sum("_stv").alias("_stv"),
        F.sum("_stt").alias("_stt"),
    )


def _deriv_finalize(
    agg: DataFrame, series_cols: tuple[str, ...] | list[str]
) -> DataFrame:
    """Shared slope finalizer: the ONE scalar double expression both
    tiers (and the DuckDB oracle) evaluate."""
    n = F.col("n_samples").cast("double")
    st = F.col("_st").cast("double")
    sv = F.col("_sv").cast("double")
    stv = F.col("_stv").cast("double")
    stt = F.col("_stt").cast("double")
    den = n * stt - st * st
    slope = F.when(
        (F.col("n_samples") >= 2) & (den != F.lit(0.0)),
        (n * stv - st * sv) / den,
    )
    return agg.select(
        *series_cols,
        "bucket_start",
        "n_samples",
        slope.alias("slope_per_s"),
    )


def gauge_changes(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """PromQL ``changes()``: how many times the value CHANGED between
    consecutive samples per (series, bucket), in the (ts, id) total
    order. Integer-exact (a comparison count), so the DuckDB oracle
    hash-matches. Within-bucket semantics: the first sample of a bucket
    has no predecessor (cross-bucket pairs contribute nothing) — the
    mergeable-tier convention every other per-bucket operator here uses.

    Scale shape: one series-keyed window (lag over (series, bucket)
    partitions) + one combinable groupBy — the counter_increase plan."""
    w = Window.partitionBy(*series_cols, "bucket_start").orderBy(
        F.col("_us").asc(), F.col(id_col).asc()
    )
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    v = F.col(value_col).cast("long")
    staged = (
        df.withColumn("bucket_start", b)
        .withColumn("_us", us)
        .withColumn("_v", v)
        .withColumn("_prev", F.lag("_v").over(w))
    )
    return staged.groupBy(*series_cols, "bucket_start").agg(
        F.sum(
            F.when(
                F.col("_prev").isNotNull() & (F.col("_v") != F.col("_prev")),
                1,
            ).otherwise(0)
        ).alias("n_changes"),
        F.count(F.lit(1)).alias("n_samples"),
    )


def gauge_irate(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """PromQL ``idelta``/``irate`` per (series, bucket): the difference
    (and per-second rate) between the LAST TWO samples in the (ts, id)
    order. Buckets with < 2 samples emit null. Exact contract: idelta is
    int64; irate divides by the integer micros gap as ONE double
    division (same-timestamp last pair → null rather than ±inf — ties
    are ordered by id, so a zero-gap pair is possible and explicit).

    Scale shape: ONE combinable groupBy — the last two samples are
    ``max_by`` carriers (the last = max_by over (ts, id); the runner-up
    = max_by over the same order among rows that are NOT the last, which
    one window-free trick recovers: carry the TOP-2 as a sorted pair via
    two max_by aggregates over (okey, v) structs). Implemented as the
    simpler series-window + rank, matching counter_increase's plan — the
    window partitions are (series, bucket)-sized."""
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    v = F.col(value_col).cast("long")
    w = Window.partitionBy(*series_cols, "bucket_start").orderBy(
        F.col("_us").desc(), F.col(id_col).desc()
    )
    staged = (
        df.withColumn("bucket_start", b)
        .withColumn("_us", us)
        .withColumn("_v", v)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 2)
    )
    agg = staged.groupBy(*series_cols, "bucket_start").agg(
        F.max_by("_v", F.struct(F.col("_us"), F.col(id_col))).alias("_vl"),
        F.min_by("_v", F.struct(F.col("_us"), F.col(id_col))).alias("_vp"),
        F.max_by("_us", F.struct(F.col("_us"), F.col(id_col))).alias("_ul"),
        F.min_by("_us", F.struct(F.col("_us"), F.col(id_col))).alias("_up"),
        F.count(F.lit(1)).alias("_n"),
    )
    gap = F.col("_ul") - F.col("_up")
    idelta = F.when(F.col("_n") >= 2, F.col("_vl") - F.col("_vp"))
    irate = F.when(
        (F.col("_n") >= 2) & (gap > 0),
        (F.col("_vl") - F.col("_vp")).cast("double")
        / (gap.cast("double") / F.lit(1_000_000.0)),
    )
    return agg.select(
        *series_cols,
        "bucket_start",
        idelta.alias("idelta"),
        irate.alias("irate_per_s"),
    )


# --- changes/irate mergeable tier carrier (VERDICT r5 Next #5) -------------
#
# Every other PromQL-surface op has a tier carrier with a bit-equal cascade;
# changes()/idelta/irate were query-time-only. The carrier per
# (series, bucket) is:
#
#   n_changes, n_samples,
#   first sample (u_first, id_first, v_first)   [endpoints in (ts,id) order]
#   last  sample (u_last,  id_last,  v_last)
#   runner-up    (u_prev,  id_prev,  v_prev)    [2nd-last; null if n<2]
#
# Closure proof: for any partition of a bucket's samples into CONTIGUOUS
# time ranges (which is what both a tier cascade — fine buckets — and an
# ordered-append increment deliver), changes = Σ part changes + Σ boundary
# comparisons (prev part's last vs next part's first), endpoints fold by
# min/max over the order key, and the global top-2 last samples always lie
# in the union of each part's {last, 2nd-last} (if a sample is neither in
# its own part, two larger samples exist in that part alone, so it can't
# be global 2nd). Non-contiguous (interleaved) parts would make per-part
# n_changes non-compositional — the fold detects overlap and REFUSES,
# mirroring the watermark guard's posture (the merge path is append-only).

_CHANGES_CARRIER = [
    "n_changes", "n_samples",
    "u_first", "id_first", "v_first",
    "u_last", "id_last", "v_last",
    "u_prev", "id_prev", "v_prev",
]


def changes_partials(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Build the changes/irate carrier at ``width_s`` buckets from raw.

    Scale shape: the windows partition by (series, bucket) — bucket-sized
    partitions, same as ``gauge_changes``/``counter_increase`` — followed
    by ONE combinable groupBy; raw is touched once."""
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    v = F.col(value_col).cast("long")
    staged = (
        df.withColumn("bucket_start", b)
        .withColumn("_us", us)
        .withColumn("_v", v)
    )
    asc = Window.partitionBy(*series_cols, "bucket_start").orderBy(
        F.col("_us").asc(), F.col(id_col).asc()
    )
    desc = Window.partitionBy(*series_cols, "bucket_start").orderBy(
        F.col("_us").desc(), F.col(id_col).desc()
    )
    staged = staged.withColumn("_prevv", F.lag("_v").over(asc)).withColumn(
        "_rkd", F.row_number().over(desc)
    )
    samp = F.struct(F.col("_us").alias("u"), F.col(id_col).alias("i"),
                    F.col("_v").alias("v"))
    okey = F.struct(F.col("_us").alias("u"), F.col(id_col).alias("i"))
    agg = staged.groupBy(*series_cols, "bucket_start").agg(
        F.sum(
            F.when(
                F.col("_prevv").isNotNull() & (F.col("_v") != F.col("_prevv")),
                1,
            ).otherwise(0)
        ).alias("n_changes"),
        F.count(F.lit(1)).alias("n_samples"),
        F.min_by(samp, okey).alias("_f"),
        F.max_by(samp, okey).alias("_l"),
        # runner-up: max_by skips rows whose ordering key is null
        F.max_by(samp, F.when(F.col("_rkd") >= 2, okey)).alias("_p"),
    )
    return agg.select(
        *series_cols,
        "bucket_start",
        "n_changes",
        "n_samples",
        F.col("_f.u").alias("u_first"),
        F.col("_f.i").alias("id_first"),
        F.col("_f.v").alias("v_first"),
        F.col("_l.u").alias("u_last"),
        F.col("_l.i").alias("id_last"),
        F.col("_l.v").alias("v_last"),
        F.col("_p.u").alias("u_prev"),
        F.col("_p.i").alias("id_prev"),
        F.col("_p.v").alias("v_prev"),
    )


def changes_fold(
    parts: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Fold carrier rows that share a (group, bucket) into one carrier row.
    ``parts`` must carry ``group_cols`` + ``bucket_start`` + the carrier
    columns; parts within a group must cover DISJOINT (ts, id) ranges
    (contiguous splits — tier cascade or ordered appends). Overlapping
    parts raise at execution time (lazy ``raise_error`` branch: per-part
    changes counts do not compose across interleaved samples).

    All inputs here are ALREADY-AGGREGATED carrier tables (≤ a few parts
    per bucket), so the window + self-join below never touches raw data."""
    keys = [*group_cols, "bucket_start"]
    ord_w = Window.partitionBy(*keys).orderBy(
        F.col("u_first").asc(), F.col("id_first").asc()
    )
    pl_u = F.lag("u_last").over(ord_w)
    pl_i = F.lag("id_last").over(ord_w)
    pl_v = F.lag("v_last").over(ord_w)
    cur_first = F.struct(F.col("u_first").alias("u"), F.col("id_first").alias("i"))
    prev_last = F.struct(pl_u.alias("u"), pl_i.alias("i"))
    boundary = (
        F.when(pl_u.isNull(), F.lit(0))
        .when(
            prev_last >= cur_first,
            F.raise_error(
                F.lit(
                    "changes_fold: carrier parts overlap in (ts, id) — "
                    "per-part change counts only compose across "
                    "contiguous splits; merge increments in time order"
                )
            ).cast("int"),
        )
        .when(pl_v != F.col("v_first"), F.lit(1))
        .otherwise(F.lit(0))
    )
    staged = parts.withColumn("_bnd", boundary)
    fsamp = F.struct(F.col("u_first").alias("u"), F.col("id_first").alias("i"),
                     F.col("v_first").alias("v"))
    lsamp = F.struct(F.col("u_last").alias("u"), F.col("id_last").alias("i"),
                     F.col("v_last").alias("v"))
    fkey = F.struct(F.col("u_first").alias("u"), F.col("id_first").alias("i"))
    lkey = F.struct(F.col("u_last").alias("u"), F.col("id_last").alias("i"))
    base = staged.groupBy(*keys).agg(
        (F.sum("n_changes") + F.sum("_bnd")).alias("n_changes"),
        F.sum("n_samples").alias("n_samples"),
        F.min_by(fsamp, fkey).alias("_f"),
        F.max_by(lsamp, lkey).alias("_l"),
    )
    # global runner-up: top-2 over each part's {last, 2nd-last} candidates
    cand = parts.select(
        *keys,
        F.explode(
            F.array(
                F.struct(F.col("u_last").alias("u"), F.col("id_last").alias("i"),
                         F.col("v_last").alias("v")),
                F.struct(F.col("u_prev").alias("u"), F.col("id_prev").alias("i"),
                         F.col("v_prev").alias("v")),
            )
        ).alias("_c"),
    ).where(F.col("_c.u").isNotNull())
    cw = Window.partitionBy(*keys).orderBy(
        F.col("_c.u").desc(), F.col("_c.i").desc()
    )
    runner = (
        cand.withColumn("_rk", F.row_number().over(cw))
        .where(F.col("_rk") == 2)
        .select(*keys, F.col("_c").alias("_p"))
    )
    return (
        base.join(runner, on=keys, how="left")
        .select(
            *keys,
            "n_changes",
            "n_samples",
            F.col("_f.u").alias("u_first"),
            F.col("_f.i").alias("id_first"),
            F.col("_f.v").alias("v_first"),
            F.col("_l.u").alias("u_last"),
            F.col("_l.i").alias("id_last"),
            F.col("_l.v").alias("v_last"),
            F.col("_p.u").alias("u_prev"),
            F.col("_p.i").alias("id_prev"),
            F.col("_p.v").alias("v_prev"),
        )
    )


def changes_from_finer(
    partials: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Re-roll the changes/irate carrier from a finer tier to ``width_s``
    buckets WITHOUT touching raw: fine buckets are contiguous time slices
    of the coarse bucket, so ``changes_fold``'s boundary algebra applies
    exactly — the result is bit-equal to ``changes_partials`` at
    ``width_s`` over raw (pinned by test + the changes_rerolled_1d /
    irate_rerolled_1d full oracles)."""
    b = time_bucket_expr(width_s, "bucket_start", origin_s=origin_s)
    staged = partials.withColumn("bucket_start", b)
    return changes_fold(staged, list(series_cols))


def changes_finalize(
    partials: DataFrame,
    series_cols: tuple[str, ...] | list[str] = ("source",),
) -> DataFrame:
    """``gauge_changes``-shaped output from a carrier table."""
    return partials.select(
        *series_cols, "bucket_start", "n_changes", "n_samples"
    )


def irate_finalize(
    partials: DataFrame,
    series_cols: tuple[str, ...] | list[str] = ("source",),
) -> DataFrame:
    """``gauge_irate``-shaped output from a carrier table: the idelta/irate
    scalar expressions over the carried last-two samples — the SAME
    expression tree ``gauge_irate`` evaluates, so finalizing a cascaded
    carrier is bit-equal to the direct query."""
    gap = F.col("u_last") - F.col("u_prev")
    has2 = F.col("n_samples") >= 2
    idelta = F.when(has2, F.col("v_last") - F.col("v_prev"))
    irate = F.when(
        has2 & (gap > 0),
        (F.col("v_last") - F.col("v_prev")).cast("double")
        / (gap.cast("double") / F.lit(1_000_000.0)),
    )
    return partials.select(
        *series_cols,
        "bucket_start",
        idelta.alias("idelta"),
        irate.alias("irate_per_s"),
    )


def heavy_hitters(
    df: DataFrame,
    width_s: int,
    phi: float,
    *,
    key_col: str = "user_id",
    series_cols: tuple[str, ...] | list[str] = (),
    ts_col: str = "ts",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """EXACT φ-heavy hitters per (series, bucket): every key whose row
    count is ≥ φ × the bucket's total rows, with its count and share —
    the Misra-Gries/SpaceSaving guarantee delivered exactly, because on
    this engine the frequency table is one combinable aggregate, not a
    bounded-memory stream summary.

    Scale shape: the ONLY data-scale exchange is the combinable
    groupBy(series, bucket, key) count (map-side partials shrink it to
    one row per distinct key per partition); the per-bucket totals are a
    second combinable agg over that ALREADY-AGGREGATED table (sum of
    counts == row total, so raw data is touched once), and the φ filter
    is a broadcast-sized join of two aggregate tables. Output is the
    natural candidate set the CMS probe contract asks for
    (functions/cms.py:cms_estimate "enumerate the heavy-hitter
    candidates first") — at φ ≥ 1e-4 it is bounded at 1/φ rows per
    bucket by construction. Deterministic: exact integer counts, no
    tie-break needed (the φ cut keeps ALL keys at the threshold)."""
    if not (0.0 < phi <= 1.0):
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    counts = df.groupBy(
        *series_cols, b.alias("bucket_start"), F.col(key_col).alias(key_col)
    ).agg(F.count(F.lit(1)).alias("key_count"))
    totals = counts.groupBy(*series_cols, "bucket_start").agg(
        F.sum("key_count").alias("bucket_total")
    )
    return (
        counts.join(totals, on=[*series_cols, "bucket_start"])
        .where(
            F.col("key_count").cast("double")
            >= F.lit(float(phi)) * F.col("bucket_total").cast("double")
        )
        .select(
            *series_cols,
            "bucket_start",
            key_col,
            "key_count",
            "bucket_total",
            (
                F.col("key_count").cast("double")
                / F.col("bucket_total").cast("double")
            ).alias("share"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Time-weighted average per (series, bucket) with LOCF weighting —
    the public TimescaleDB ``time_weight('LOCF', ...)`` / ``average()``
    semantics: integrate the step function through the bucket's OBSERVED
    span (first to last sample; no extrapolation to bucket edges) and
    divide by that span.

    Pinned contract (cross-engine exact):

    - order within (series, bucket): (``ts``, ``id_col``);
    - numerator = Σ v_i · (ts_{i+1} − ts_i) in INTEGER micros — exact in
      int64 (bound: v_max · width_us · n_per_bucket < 2⁶³; at cents-scale
      metrics and ≤ 1h buckets that allows ~10⁵ samples per series-bucket;
      wider tiers re-roll from the finer tier instead of re-integrating);
    - denominator = ts_last − ts_first micros;
    - ``twa`` = CAST(num AS DOUBLE)/CAST(den AS DOUBLE) — ONE IEEE
      division, bit-identical in DuckDB; a single-sample (or all-ties)
      bucket has den = 0 → ``twa`` = its first value.

    Same scale shape as ``counter_increase``: one (series, bucket)-keyed
    window + one combinable groupBy (``twa_partials``, the TWA tier's
    mergeable STATE); the finalizer is one IEEE division per row."""
    p = twa_partials(
        df,
        width_s,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        id_col=id_col,
        origin_s=origin_s,
    )
    return twa_finalize(p, series_cols=series_cols)


def twa_partials(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """The time-weighted-average tier's mergeable STATE: per (series,
    bucket) the exact int64 LOCF integral ``num`` = Σ v_i·(u_{i+1}−u_i)
    (the last sample contributes nothing) plus the first/last samples
    with their (micros, id) order keys. Mergeable because the integral
    is a sum of per-segment areas: folding two time-contiguous parts of
    a bucket (or two adjacent fine buckets into a coarse one) adds their
    integrals plus ONE boundary segment — prev part's last value LOCF'd
    to the next part's first sample (``twa_fold``); the denominator is
    an endpoint carrier. One (series, bucket)-partitioned window + ONE
    combinable groupBy."""
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    base = df.withColumn("_bk", b).withColumn(
        "_xu", F.unix_micros(F.col(ts_col).cast("timestamp"))
    )
    wd = Window.partitionBy(*series_cols, "_bk").orderBy("_xu", id_col)
    v = F.col(value_col).cast("long")
    nxt = F.lead("_xu").over(wd)
    seg = F.when(nxt.isNull(), F.lit(0)).otherwise((nxt - F.col("_xu")) * v)
    okey = F.struct(F.col("_xu").alias("u"), F.col(id_col).alias("i"))
    samp = F.struct(
        F.col("_xu").alias("u"), F.col(id_col).alias("i"), v.alias("v")
    )
    agg = (
        base.withColumn("_seg", seg)
        .groupBy(*series_cols, F.col("_bk").alias("bucket_start"))
        .agg(
            F.sum("_seg").alias("num"),
            F.count(F.lit(1)).alias("n_samples"),
            F.min_by(samp, okey).alias("_f"),
            F.max_by(samp, okey).alias("_l"),
        )
    )
    return agg.select(
        *series_cols,
        "bucket_start",
        "num",
        "n_samples",
        F.col("_f.u").alias("u_first"),
        F.col("_f.i").alias("id_first"),
        F.col("_f.v").alias("v_first"),
        F.col("_l.u").alias("u_last"),
        F.col("_l.i").alias("id_last"),
        F.col("_l.v").alias("v_last"),
    )


def twa_fold(
    parts: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Fold TWA-carrier rows that share a (group, bucket) into one row:
    Σ integrals + one LOCF boundary segment between each consecutive
    pair of parts (prev part's last value held until the next part's
    first sample — exactly the segment the per-part windows never saw);
    endpoints fold by order-key min/max. Parts must cover DISJOINT
    (ts, id) ranges; overlapping parts raise at execution time (lazy
    ``raise_error``, same contract as ``rate_fold`` — per-part integrals
    only compose across contiguous splits).

    All inputs are ALREADY-AGGREGATED carrier tables (≤ a few parts per
    bucket), so the window below never touches raw data."""
    keys = [*group_cols, "bucket_start"]
    ord_w = Window.partitionBy(*keys).orderBy(
        F.col("u_first").asc(), F.col("id_first").asc()
    )
    pl_u = F.lag("u_last").over(ord_w)
    pl_i = F.lag("id_last").over(ord_w)
    pl_v = F.lag("v_last").over(ord_w)
    cur_first = F.struct(
        F.col("u_first").alias("u"), F.col("id_first").alias("i")
    )
    prev_last = F.struct(pl_u.alias("u"), pl_i.alias("i"))
    boundary = (
        F.when(pl_u.isNull(), F.lit(0))
        .when(
            prev_last >= cur_first,
            F.raise_error(
                F.lit(
                    "twa_fold: carrier parts overlap in (ts, id) — "
                    "per-part integrals only compose across contiguous "
                    "splits; merge increments in time order"
                )
            ).cast("long"),
        )
        .otherwise((F.col("u_first") - pl_u) * pl_v)
    )
    staged = parts.withColumn("_bnd", boundary)
    fsamp = F.struct(
        F.col("u_first").alias("u"),
        F.col("id_first").alias("i"),
        F.col("v_first").alias("v"),
    )
    lsamp = F.struct(
        F.col("u_last").alias("u"),
        F.col("id_last").alias("i"),
        F.col("v_last").alias("v"),
    )
    fkey = F.struct(F.col("u_first").alias("u"), F.col("id_first").alias("i"))
    lkey = F.struct(F.col("u_last").alias("u"), F.col("id_last").alias("i"))
    return (
        staged.groupBy(*keys)
        .agg(
            (F.sum("num") + F.sum("_bnd")).alias("num"),
            F.sum("n_samples").alias("n_samples"),
            F.min_by(fsamp, fkey).alias("_f"),
            F.max_by(lsamp, lkey).alias("_l"),
        )
        .select(
            *keys,
            "num",
            "n_samples",
            F.col("_f.u").alias("u_first"),
            F.col("_f.i").alias("id_first"),
            F.col("_f.v").alias("v_first"),
            F.col("_l.u").alias("u_last"),
            F.col("_l.i").alias("id_last"),
            F.col("_l.v").alias("v_last"),
        )
    )


def twa_from_finer(
    partials: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Re-roll the TWA carrier from a finer tier to ``width_s`` buckets
    WITHOUT touching raw: fine buckets are contiguous time slices of the
    coarse bucket, so ``twa_fold``'s boundary algebra applies exactly —
    the coarse integral is Σ fine integrals + the LOCF segments crossing
    the fine boundaries, which is bit-equal to ``twa_partials`` at
    ``width_s`` over raw (pinned by test + the twa_rerolled_1d full
    oracle)."""
    b = time_bucket_expr(width_s, "bucket_start", origin_s=origin_s)
    staged = partials.withColumn("bucket_start", b)
    return twa_fold(staged, list(series_cols))


def twa_finalize(
    partials: DataFrame,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
) -> DataFrame:
    """TWA finalizer over a carrier table (direct or cascaded): ONE IEEE
    division num/(u_last − u_first) — bit-identical in DuckDB; a
    zero-span bucket (single sample or all-ties) yields its first
    value."""
    den = F.col("u_last") - F.col("u_first")
    return partials.select(
        *series_cols,
        "bucket_start",
        F.when(den == 0, F.col("v_first").cast("double"))
        .otherwise(F.col("num").cast("double") / den.cast("double"))
        .alias("twa"),
        "n_samples",
    )


def rollup_anomaly(
    rollup: DataFrame,
    *,
    group_cols: tuple[str, ...] | list[str] = ("source",),
    bucket_col: str = "bucket_start",
    value_col: str = "n_tok_sum",
    trailing: int = 24,
    min_history: int = 12,
    z_cut: float = 3.0,
) -> DataFrame:
    """Rolling z-score anomaly flags over an already-rolled-up tier: for
    each (group, bucket) compare the bucket's value against the mean/std
    of the PREVIOUS ``trailing`` buckets (current excluded — no
    self-masking), flagging |z| > ``z_cut``. Buckets with fewer than
    ``min_history`` predecessors emit a null z (insufficient baseline).

    Cross-engine exactness (same discipline as time_weighted_avg): the
    window carries INTEGER sums only — n, Σv, Σv² are exact int64 over
    ≤ ``trailing`` bigint values — and the float pipeline is a pinned
    operand order: mean = CAST(Σv)/n; var = (CAST(Σv²) − CAST(Σv)·mean) /
    (n−1) (the textbook shortcut, fine here because the history is tiny
    and integer-exact); z = (v − mean)/sqrt(var); zero-variance history →
    z = null. Every division/sqrt is one IEEE op identical in DuckDB.

    Scale shape: ONE window over the aggregate tier (rows = buckets, not
    raw data) — a (group)-keyed shuffle of the already-small rollup; the
    raw table is never touched. int64 bound: trailing · v_max² < 2⁶³ →
    v_max ≈ 6·10⁸ at trailing=24 — far above any cents-scale hourly sum.
    """
    wd = (
        Window.partitionBy(*group_cols)
        .orderBy(bucket_col)
        .rowsBetween(-trailing, -1)
    )
    v = F.col(value_col).cast("long")
    n = F.count(v).over(wd)
    s1 = F.sum(v).over(wd)
    s2 = F.sum(v * v).over(wd)
    mean = s1.cast("double") / n.cast("double")
    var = (s2.cast("double") - s1.cast("double") * mean) / (
        (n - 1).cast("double")
    )
    z = (v.cast("double") - mean) / F.sqrt(var)
    out = rollup.withColumn("_n", n).withColumn(
        "z",
        F.when((F.col("_n") < min_history) | (var <= 0), F.lit(None)).otherwise(
            z
        ),
    )
    return out.select(
        *group_cols,
        bucket_col,
        value_col,
        F.col("_n").alias("n_history"),
        "z",
        F.when(F.abs(F.col("z")) > z_cut, F.lit(True))
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


def rollup_sliding(
    df: DataFrame,
    width_s: int,
    slide_s: int,
    *,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] | list[str] = ("source",),
    value_col: str = "n_tok",
) -> DataFrame:
    """Sliding (hopping) window aggregate — the moving-average tier
    ``date_trunc``/``time_bucket`` can't express: every ``slide_s`` seconds
    emit the aggregate of the trailing ``width_s`` window. This is Spark's
    built-in ``F.window(ts, width, slide)`` (epoch-aligned window
    starts): each row lands in exactly ``width/slide`` windows, assigned
    JVM-side — no self-join, no range join; the one shuffle is the
    (group, window) groupBy, with map-side partials exactly like every
    fixed-width tier.

    ``width_s`` must be a positive multiple of ``slide_s`` (the windows
    containing a row are then ``floor(ts/slide)*slide - k*slide`` for
    k = 0..width/slide-1 — the formula the DuckDB oracle unnests, making
    the result integer-exact cross-engine)."""
    if slide_s <= 0 or width_s <= 0 or width_s % slide_s:
        raise ValueError(
            f"width_s ({width_s}) must be a positive multiple of slide_s "
            f"({slide_s})"
        )
    w = F.window(F.col(ts_col), f"{width_s} seconds", f"{slide_s} seconds")
    v = F.col(value_col).cast("long")
    return (
        df.groupBy(*group_cols, w.alias("_w"))
        .agg(
            F.sum(v).alias("n_tok_sum"),
            F.count(F.lit(1)).alias("row_count"),
            F.min(value_col).alias("n_tok_min"),
            F.max(value_col).alias("n_tok_max"),
        )
        .select(
            *group_cols,
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "n_tok_sum",
            "row_count",
            "n_tok_min",
            "n_tok_max",
        )
    )


def gap_fill_bucketed(
    agg: DataFrame,
    width_s: int,
    *,
    group_cols: tuple[str, ...] | list[str] = ("source",),
    span: tuple[str, str] | None = None,
) -> DataFrame:
    """``rollup.gap_fill`` for arbitrary ``time_bucket`` widths: LEFT-join
    the bucketed aggregate onto a dense per-group spine stepped every
    ``width_s`` seconds (``sequence`` + ``explode`` — spine rows are
    groups × buckets, aggregate-sized; the raw table is never touched).
    Missing buckets emit zero sums/counts, null min/max, and
    ``gap_filled = true`` — identical contract to the calendar tiers, so
    locf/linear interpolation (gap_fill_locf) composes on top unchanged."""
    if width_s <= 0:
        raise ValueError(f"width_s must be positive, got {width_s}")
    group_cols = list(group_cols)
    step = F.expr(f"interval {width_s} seconds")
    if span is None:
        bounds = agg.groupBy(*group_cols).agg(
            F.min("bucket_start").alias("_lo"),
            F.max("bucket_start").alias("_hi"),
        )
    else:
        lo, hi = span
        bounds = agg.select(*group_cols).distinct().select(
            *group_cols,
            F.to_timestamp(F.lit(lo)).cast("timestamp_ntz").alias("_lo"),
            F.to_timestamp(F.lit(hi)).cast("timestamp_ntz").alias("_hi"),
        )
    spine = bounds.select(
        *group_cols,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), step)
        ).alias("bucket_start"),
    )
    out = spine.join(agg, on=[*group_cols, "bucket_start"], how="left")
    return out.withColumn(
        "gap_filled", F.col("n_tok_sum").isNull()
    ).na.fill(0, ["n_tok_sum", "row_count"])


# ---------------------------------------------------------------------------
# OHLC / candlestick tier (TimescaleDB toolkit candlestick_agg semantics)
# ---------------------------------------------------------------------------


def ohlc_partials(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """The OHLC/candlestick tier's mergeable STATE — the public
    TimescaleDB-toolkit ``candlestick_agg`` semantics (open/high/low/
    close/volume per bucket) re-expressed as one combinable groupBy.

    Pinned contract (integer-exact, so the DuckDB oracle hash-matches):

    - total order within (series, bucket): (``ts``, ``id_col``) — ties
      broken by the unique id identically in both engines;
    - open/close = value at that order's endpoints, carried WITH their
      (micros, id) order keys so the carrier re-rolls (``min_by``/
      ``max_by`` over the composite key is exactly associative given the
      total order — the same argument as the gauge_delta/M4 tiers);
    - high/low = max/min value; volume = Σ value (int64, exact).

    Scale shape: ONE map-side-combinable groupBy — no window, no sort
    over raw beyond the in-partition SortAggregate the struct-typed
    min_by buffer costs (see gauge_delta's plan note)."""
    v = F.col(value_col).cast("long")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    okey = F.struct(us.alias("u"), F.col(id_col).alias("i"))
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    return (
        df.groupBy(*series_cols, b.alias("bucket_start"))
        .agg(
            F.min_by(
                F.struct(
                    us.alias("u"),
                    F.col(id_col).alias("i"),
                    v.alias("v"),
                ),
                okey,
            ).alias("_open"),
            F.max_by(
                F.struct(
                    us.alias("u"),
                    F.col(id_col).alias("i"),
                    v.alias("v"),
                ),
                okey,
            ).alias("_close"),
            F.max(v).alias("v_high"),
            F.min(v).alias("v_low"),
            F.sum(v).alias("volume"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            *series_cols,
            "bucket_start",
            F.col("_open.u").alias("open_us"),
            F.col("_open.i").alias("open_id"),
            F.col("_open.v").alias("v_open"),
            F.col("_close.u").alias("close_us"),
            F.col("_close.i").alias("close_id"),
            F.col("_close.v").alias("v_close"),
            "v_high",
            "v_low",
            "volume",
            "n_samples",
        )
    )


def ohlc_from_finer(
    partials: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Re-roll the OHLC carrier from a finer tier to ``width_s`` buckets
    WITHOUT touching raw: open = the open of the earliest fine bucket by
    (open_us, open_id) — the global earliest sample, because fine buckets
    partition the coarse bucket's time range; close symmetric; high/low/
    volume/n fold by max/min/sum. Output schema == ``ohlc_partials`` at
    ``width_s`` and the values are bit-identical to building the coarse
    tier from raw (pinned by test + the ohlc_rerolled_1d full oracle)."""
    b = time_bucket_expr(width_s, "bucket_start", origin_s=origin_s)
    return (
        partials.withColumn("bucket_start", b)
        .groupBy(*series_cols, "bucket_start")
        .agg(
            F.min_by(
                F.struct(
                    F.col("open_us").alias("u"),
                    F.col("open_id").alias("i"),
                    F.col("v_open").alias("v"),
                ),
                F.struct(F.col("open_us"), F.col("open_id")),
            ).alias("_open"),
            F.max_by(
                F.struct(
                    F.col("close_us").alias("u"),
                    F.col("close_id").alias("i"),
                    F.col("v_close").alias("v"),
                ),
                F.struct(F.col("close_us"), F.col("close_id")),
            ).alias("_close"),
            F.max("v_high").alias("v_high"),
            F.min("v_low").alias("v_low"),
            F.sum("volume").alias("volume"),
            F.sum("n_samples").alias("n_samples"),
        )
        .select(
            *series_cols,
            "bucket_start",
            F.col("_open.u").alias("open_us"),
            F.col("_open.i").alias("open_id"),
            F.col("_open.v").alias("v_open"),
            F.col("_close.u").alias("close_us"),
            F.col("_close.i").alias("close_id"),
            F.col("_close.v").alias("v_close"),
            "v_high",
            "v_low",
            "volume",
            "n_samples",
        )
    )


def ohlc_finalize(
    partials: DataFrame,
    series_cols: tuple[str, ...] | list[str] = ("source",),
) -> DataFrame:
    """Candlestick-shaped output from an OHLC carrier table."""
    return partials.select(
        *series_cols,
        "bucket_start",
        "v_open",
        "v_high",
        "v_low",
        "v_close",
        "volume",
        "n_samples",
    )


def ohlc_rollup(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """OHLC/candlestick per (series, bucket) directly from raw — see
    ``ohlc_partials`` for the pinned contract and scale shape."""
    return ohlc_finalize(
        ohlc_partials(
            df,
            width_s,
            series_cols=series_cols,
            ts_col=ts_col,
            value_col=value_col,
            id_col=id_col,
            origin_s=origin_s,
        ),
        series_cols,
    )


# ---------------------------------------------------------------------------
# state_agg / duration_in (TimescaleDB toolkit state-timeline semantics)
# ---------------------------------------------------------------------------


def state_durations(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Time spent in each state per (series, bucket) — the public
    TimescaleDB-toolkit ``state_agg``/``duration_in`` semantics: a sample
    declares the series' state from its timestamp until the NEXT sample's
    timestamp (LOCF state timeline), and the per-bucket answer is how
    many microseconds of the bucket the series spent in each state.

    Pinned contract (integer-micros exact, so the DuckDB oracle
    hash-matches):

    - state timeline order within a series: (``ts``, ``id_col``);
    - each sample opens a segment [t_k, t_{k+1}) carrying its state; the
      series' LAST sample contributes nothing (no extrapolation past the
      last observation — the same no-extrapolation posture as
      counter_increase), and zero-length segments (timestamp ties) are
      dropped;
    - a segment's duration is split exactly across every time bucket it
      overlaps: contribution to bucket b = |[t_k, t_{k+1}) ∩ [b, b+w)|
      in whole microseconds;
    - ``n_segments`` counts the (segment × bucket) pieces aggregated
      into each output row.

    Scale shape: ONE window shuffle on the series key (lead() for the
    segment end), then a bucket-grid explode whose factor is the number
    of buckets a segment spans (bounded by segment length / width — for
    telemetry where samples arrive faster than the bucket width the
    factor is ~1), then one combinable groupBy. No join, no spine table
    against raw."""
    if width_s <= 0:
        raise ValueError(f"width_s must be positive, got {width_s}")
    o_us = origin_s * 1_000_000
    w_us = width_s * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    wd = Window.partitionBy(*series_cols).orderBy(ts_col, id_col)
    seg = (
        df.select(
            *series_cols,
            F.col(state_col).alias("_state"),
            us.alias("_t0"),
            F.col(ts_col),
            F.col(id_col),
        )
        .withColumn("_t1", F.lead("_t0").over(wd))
        .where(F.col("_t1") > F.col("_t0"))
        .drop(ts_col, id_col)
    )
    b0 = F.expr(f"{o_us}L + ((_t0 - {o_us}L) div {w_us}L) * {w_us}L")
    bl = F.expr(f"{o_us}L + ((_t1 - 1 - {o_us}L) div {w_us}L) * {w_us}L")
    pieces = seg.withColumn(
        "_b", F.explode(F.sequence(b0, bl, F.lit(w_us).cast("long")))
    )
    dur = F.least(F.col("_t1"), F.col("_b") + F.lit(w_us)) - F.greatest(
        F.col("_t0"), F.col("_b")
    )
    return (
        pieces.groupBy(
            *series_cols,
            F.expr("cast(timestamp_micros(_b) as timestamp_ntz)").alias(
                "bucket_start"
            ),
            F.col("_state").alias(state_col),
        )
        .agg(
            F.sum(dur).alias("duration_us"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


# ---------------------------------------------------------------------------
# predict_linear and extrapolated rate (the remaining PromQL estimators)
# ---------------------------------------------------------------------------


def predict_linear(
    df: DataFrame,
    width_s: int,
    horizon_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """PromQL ``predict_linear(v[range], t)`` per (series, bucket): the
    least-squares projection of the metric ``horizon_s`` seconds past the
    bucket END (range end == bucket end, the natural tiled-range read).

    Pinned contract: reuses the regression tier's five integer sufficient
    statistics (``deriv_partials`` — t = whole seconds since bucket
    start); slope is ``gauge_deriv``'s expression; intercept =
    (Σv − slope·Σt)/n; predicted = intercept + slope·(width + horizon).
    Every double operation is mirrored operand-for-operand by the DuckDB
    oracle, so the hash matches bit-for-bit. Null when the slope is
    undefined (fewer than 2 samples, or zero time variance).

    Scale shape: identical to ``gauge_deriv`` — ONE combinable groupBy,
    scalar finalizer; cascades through ``deriv_from_finer`` unchanged."""
    p = deriv_partials(
        df,
        width_s,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        origin_s=origin_s,
    )
    return predict_finalize(
        p, width_s, horizon_s, series_cols=series_cols
    )


def predict_finalize(
    partials: DataFrame,
    width_s: int,
    horizon_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
) -> DataFrame:
    """Shared predict_linear finalizer over a deriv carrier table (direct
    or cascaded) — the one scalar double expression the oracle mirrors."""
    n = F.col("n_samples").cast("double")
    st = F.col("_st").cast("double")
    sv = F.col("_sv").cast("double")
    stv = F.col("_stv").cast("double")
    stt = F.col("_stt").cast("double")
    den = n * stt - st * st
    defined = (F.col("n_samples") >= 2) & (den != F.lit(0.0))
    slope = (n * stv - st * sv) / den
    intercept = (sv - slope * st) / n
    t_target = F.lit(float(width_s + horizon_s))
    return partials.select(
        *series_cols,
        "bucket_start",
        "n_samples",
        F.when(defined, slope).alias("slope_per_s"),
        F.when(defined, intercept + slope * t_target).alias("predicted"),
    )


def prom_rate(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    counter: bool = True,
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """The faithful PromQL ``rate()``/``increase()`` ESTIMATOR per
    (series, bucket) — boundary extrapolation included (the public
    Prometheus algorithm, promql/functions.go ``extrapolatedRate``),
    complementing ``counter_increase``'s exact no-extrapolation variant.

    Pinned contract:

    - range = the bucket [b, b+w); samples ordered (``ts``, ``id_col``);
    - raw increase = Σ per-pair contributions inside the bucket
      (counter mode: a decrease means reset, the new value counts whole;
      gauge mode: plain last−first), int64-exact;
    - extrapolation in IEEE doubles, operand order mirrored by the
      oracle: durations to the bucket edges are extrapolated in full
      when the edge is closer than 1.1× the average sample spacing,
      else by half the average spacing; counter mode additionally caps
      the start-side extrapolation at the implied zero crossing
      (sampledInterval · firstV / increase);
    - null unless the bucket has ≥ 2 samples spanning > 0 time (the
      PromQL guard).

    Scale shape: one window over (series, bucket) — partition size = one
    bucket of one series — feeding ONE combinable groupBy
    (``rate_partials``, the tier's mergeable STATE); the finalizer is
    scalar arithmetic on the aggregate row."""
    p = rate_partials(
        df,
        width_s,
        series_cols=series_cols,
        ts_col=ts_col,
        value_col=value_col,
        id_col=id_col,
        counter=counter,
        origin_s=origin_s,
    )
    return prom_rate_finalize(
        p, width_s, series_cols=series_cols, counter=counter
    )


def holt_winters(
    df: DataFrame,
    width_s: int,
    sf: float,
    tf: float,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """PromQL ``holt_winters()`` (``double_exponential_smoothing()`` in
    Prometheus 3.x — the public algorithm, promql/functions.go
    ``funcHoltWinters``/``calcTrendValue``) per (series, bucket): the
    smoothed level after folding the bucket's samples in (ts, id) order
    with smoothing factor ``sf`` and trend factor ``tf``.

    Pinned contract (IEEE doubles, operand order mirrored by the oracle):

    - init from the first two samples: s0 = v₀, s1 = v₁, b = v₁ − v₀
      (PromQL's first loop iteration reduces to exactly this);
    - each further sample v: b ← tf·(s1−s0) + (1−tf)·b, then
      s1' = sf·v + (1−sf)·(s1 + b), s0 ← s1;
    - emit round-6(s1); buckets with < 2 samples emit nothing (the
      PromQL guard);
    - factors must lie in (0, 1) — refused otherwise, like PromQL.

    Scale shape: ONE combinable groupBy collects each bucket's bounded
    sample array (buckets bound the range vector, same posture as OHLC/
    LTTB), and the recurrence folds JVM-side with ``F.aggregate`` — no
    Python, no window over raw, no per-sample shuffle."""
    if not (0.0 < sf < 1.0) or not (0.0 < tf < 1.0):
        raise ValueError(
            f"smoothing/trend factors must be in (0, 1), got sf={sf} tf={tf}"
        )
    bucket = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    vals = (
        df.select(
            *series_cols,
            bucket.alias("bucket_start"),
            F.struct(
                F.col(ts_col).alias("_ts"),
                F.col(id_col).alias("_id"),
                F.col(value_col).cast("double").alias("_v"),
            ).alias("_s"),
        )
        .groupBy(*series_cols, "bucket_start")
        .agg(F.array_sort(F.collect_list("_s")).alias("_arr"))
        .withColumn("_vs", F.transform("_arr", lambda s: s["_v"]))
    )
    n = F.size("_vs")
    v0 = F.element_at("_vs", 1)
    v1 = F.element_at("_vs", 2)
    init = F.struct(
        v0.alias("s0"), v1.alias("s1"), (v1 - v0).alias("b")
    )

    def step(acc, v):
        b2 = F.lit(float(tf)) * (acc["s1"] - acc["s0"]) + F.lit(
            1.0 - float(tf)
        ) * acc["b"]
        s1n = F.lit(float(sf)) * v + F.lit(1.0 - float(sf)) * (acc["s1"] + b2)
        return F.struct(
            acc["s1"].alias("s0"), s1n.alias("s1"), b2.alias("b")
        )

    folded = F.aggregate(
        F.slice("_vs", 3, F.greatest(n - 2, F.lit(0))), init, step
    )
    return (
        vals.where(n >= 2)
        .withColumn("smoothed", F.round(folded["s1"], 6))
        .select(*series_cols, "bucket_start", "smoothed")
    )


def rate_partials(
    df: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    id_col: str = "doc_id",
    counter: bool = True,
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """The rate/increase tier's mergeable STATE: per (series, bucket) the
    exact int64 within-bucket increase plus the first/last samples with
    their (micros, id) order keys. Mergeable because PromQL's range
    vector is the bucket: folding two time-contiguous parts of a bucket
    (or two adjacent fine buckets into a coarse one) adds their
    increases plus ONE reset-aware boundary contribution between the
    parts' endpoint samples (``rate_fold``); every extrapolation input
    (first/last micros and values, n) is an endpoint/sum carrier. One
    (series, bucket)-partitioned window + ONE combinable groupBy."""
    v = F.col(value_col).cast("long")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b = time_bucket_expr(width_s, ts_col, origin_s=origin_s)
    staged = df.withColumn("_bkt", b).withColumn("_us", us).withColumn("_v", v)
    wd = Window.partitionBy(*series_cols, "_bkt").orderBy(ts_col, id_col)
    prev = F.lag("_v").over(wd)
    if counter:
        contrib = (
            F.when(prev.isNull(), F.lit(0))
            .when(F.col("_v") < prev, F.col("_v"))
            .otherwise(F.col("_v") - prev)
        )
    else:
        contrib = F.when(prev.isNull(), F.lit(0)).otherwise(
            F.col("_v") - prev
        )
    okey = F.struct(F.col("_us").alias("u"), F.col(id_col).alias("i"))
    samp = F.struct(
        F.col("_us").alias("u"),
        F.col(id_col).alias("i"),
        F.col("_v").alias("v"),
    )
    agg = (
        staged.withColumn("_inc", contrib)
        .groupBy(*series_cols, F.col("_bkt").alias("bucket_start"))
        .agg(
            F.sum("_inc").alias("increase"),
            F.count(F.lit(1)).alias("n_samples"),
            F.min_by(samp, okey).alias("_f"),
            F.max_by(samp, okey).alias("_l"),
        )
    )
    return agg.select(
        *series_cols,
        "bucket_start",
        "increase",
        "n_samples",
        F.col("_f.u").alias("u_first"),
        F.col("_f.i").alias("id_first"),
        F.col("_f.v").alias("v_first"),
        F.col("_l.u").alias("u_last"),
        F.col("_l.i").alias("id_last"),
        F.col("_l.v").alias("v_last"),
    )


def rate_fold(
    parts: DataFrame,
    group_cols: list[str],
    *,
    counter: bool = True,
) -> DataFrame:
    """Fold rate-carrier rows that share a (group, bucket) into one row:
    Σ increases + one reset-aware boundary contribution between each
    consecutive pair of parts (prev part's last sample → next part's
    first sample — exactly the pair the per-part windows never saw);
    endpoints fold by order-key min/max. Parts must cover DISJOINT
    (ts, id) ranges; overlapping parts raise at execution time (lazy
    ``raise_error``, same contract as ``changes_fold`` — per-part
    increases only compose across contiguous splits).

    All inputs are ALREADY-AGGREGATED carrier tables (≤ a few parts per
    bucket), so the window below never touches raw data."""
    keys = [*group_cols, "bucket_start"]
    ord_w = Window.partitionBy(*keys).orderBy(
        F.col("u_first").asc(), F.col("id_first").asc()
    )
    pl_u = F.lag("u_last").over(ord_w)
    pl_i = F.lag("id_last").over(ord_w)
    pl_v = F.lag("v_last").over(ord_w)
    cur_first = F.struct(
        F.col("u_first").alias("u"), F.col("id_first").alias("i")
    )
    prev_last = F.struct(pl_u.alias("u"), pl_i.alias("i"))
    vf = F.col("v_first")
    if counter:
        pair = F.when(vf < pl_v, vf).otherwise(vf - pl_v)
    else:
        pair = vf - pl_v
    boundary = (
        F.when(pl_u.isNull(), F.lit(0))
        .when(
            prev_last >= cur_first,
            F.raise_error(
                F.lit(
                    "rate_fold: carrier parts overlap in (ts, id) — "
                    "per-part increases only compose across contiguous "
                    "splits; merge increments in time order"
                )
            ).cast("long"),
        )
        .otherwise(pair)
    )
    staged = parts.withColumn("_bnd", boundary)
    fsamp = F.struct(
        F.col("u_first").alias("u"),
        F.col("id_first").alias("i"),
        F.col("v_first").alias("v"),
    )
    lsamp = F.struct(
        F.col("u_last").alias("u"),
        F.col("id_last").alias("i"),
        F.col("v_last").alias("v"),
    )
    fkey = F.struct(F.col("u_first").alias("u"), F.col("id_first").alias("i"))
    lkey = F.struct(F.col("u_last").alias("u"), F.col("id_last").alias("i"))
    return (
        staged.groupBy(*keys)
        .agg(
            (F.sum("increase") + F.sum("_bnd")).alias("increase"),
            F.sum("n_samples").alias("n_samples"),
            F.min_by(fsamp, fkey).alias("_f"),
            F.max_by(lsamp, lkey).alias("_l"),
        )
        .select(
            *keys,
            "increase",
            "n_samples",
            F.col("_f.u").alias("u_first"),
            F.col("_f.i").alias("id_first"),
            F.col("_f.v").alias("v_first"),
            F.col("_l.u").alias("u_last"),
            F.col("_l.i").alias("id_last"),
            F.col("_l.v").alias("v_last"),
        )
    )


def rate_from_finer(
    partials: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    counter: bool = True,
    origin_s: int = TIME_BUCKET_ORIGIN_S,
) -> DataFrame:
    """Re-roll the rate carrier from a finer tier to ``width_s`` buckets
    WITHOUT touching raw: fine buckets are contiguous time slices of the
    coarse bucket, so ``rate_fold``'s boundary algebra applies exactly —
    the coarse within-bucket increase is Σ fine increases + the
    reset-aware contributions of the fine-boundary sample pairs, which is
    bit-equal to ``rate_partials`` at ``width_s`` over raw (pinned by
    test + the prom_rate_rerolled_1d full oracle)."""
    b = time_bucket_expr(width_s, "bucket_start", origin_s=origin_s)
    staged = partials.withColumn("bucket_start", b)
    return rate_fold(staged, list(series_cols), counter=counter)


def prom_rate_finalize(
    partials: DataFrame,
    width_s: int,
    *,
    series_cols: tuple[str, ...] | list[str] = ("source",),
    counter: bool = True,
) -> DataFrame:
    """The extrapolatedRate finalizer over a rate carrier table (direct
    or cascaded) — the one scalar double block the DuckDB oracle mirrors
    operand-for-operand (see ``prom_rate``)."""
    w_us = width_s * 1_000_000
    bucket_us = F.unix_micros(F.col("bucket_start").cast("timestamp"))
    dur_start = (F.col("u_first") - bucket_us).cast("double") / F.lit(1e6)
    dur_end = (
        (bucket_us + F.lit(w_us) - F.col("u_last")).cast("double")
        / F.lit(1e6)
    )
    sampled = (
        (F.col("u_last") - F.col("u_first")).cast("double") / F.lit(1e6)
    )
    avg_dur = sampled / (F.col("n_samples").cast("double") - F.lit(1.0))
    inc_d = F.col("increase").cast("double")
    first_v_d = F.col("v_first").cast("double")
    if counter:
        dur_zero = sampled * (first_v_d / inc_d)
        dur_start = F.when(
            (inc_d > F.lit(0.0))
            & (first_v_d >= F.lit(0.0))
            & (dur_zero < dur_start),
            dur_zero,
        ).otherwise(dur_start)
    threshold = avg_dur * F.lit(1.1)
    dur_start = F.when(dur_start >= threshold, avg_dur / F.lit(2.0)).otherwise(
        dur_start
    )
    dur_end = F.when(dur_end >= threshold, avg_dur / F.lit(2.0)).otherwise(
        dur_end
    )
    factor = (sampled + dur_start + dur_end) / sampled
    defined = (F.col("n_samples") >= 2) & (
        F.col("u_last") > F.col("u_first")
    )
    ext = inc_d * factor
    return partials.select(
        *series_cols,
        "bucket_start",
        "increase",
        "n_samples",
        F.when(defined, ext).alias("increase_ext"),
        F.when(defined, ext / F.lit(float(width_s))).alias("rate_per_s"),
    )
