"""Temporal joins Spark lacks as built-ins: as-of join and interval
(range) join — expressed as shuffle-bounded DataFrame compositions, not
driver-side loops or per-key pandas merges.

Scale notes (100 TB):
- ``asof_join`` is ONE shuffle on the key: tag both streams, union,
  window-fill the right side's values forward in (ts, tag) order, keep
  the left rows. No join fan-out at all, no state beyond the running
  window; hot keys salt like any window partition (or pre-split by time
  range when one entity dominates).
- ``interval_join`` buckets time: intervals explode to the buckets they
  cover, facts land in exactly one bucket, the equi-join on bucket id
  replaces the BroadcastNestedLoop a naive theta join degenerates to.
  Each (fact, interval) candidate appears exactly once (a fact has one
  bucket), so no pair dedup is needed. Bucket width trades fan-out for
  candidate precision exactly like the spatial cell index (geo/cells).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Backward (inclusive) as-of join: each left row is annotated with
    ``right_cols`` from the LATEST right row with ``right.ts <= left.ts``
    within the same ``by`` keys — the semantics of DuckDB/kdb ASOF JOIN
    and pandas merge_asof(direction='backward'). Rows with no preceding
    right row get nulls.

    Right rows must be unique per (by, ts) — with duplicates the winner
    is undefined (same caveat as DuckDB ASOF JOIN); pre-dedup with a
    row_number if needed.

    All ``right_cols`` come from the SINGLE matched right row — including
    that row's NULLs. The forward-fill therefore carries ONE struct of
    the right columns (null struct on left rows, so ignorenulls skips
    exactly the left rows and never skips a right row whose individual
    column is null), then unpacks its fields. Filling each column
    independently would let different output columns come from different
    right rows whenever a column is legitimately null (ADVICE r3).
    """
    left_other = [c for c in left.columns if c not in by and c != ts]
    # a right_col named like a `by` key or the ts column would ALSO be
    # silently overwritten by the struct unpack (ADVICE r4) — check the
    # full left surface, not just the non-key columns
    clash = sorted(set(right_cols) & (set(left_other) | set(by) | {ts}))
    if clash:
        # the struct unpack would silently OVERWRITE the left columns;
        # fail loudly instead (the old per-column fill raised Spark's
        # AMBIGUOUS_REFERENCE here — keep the failure, improve the text)
        raise ValueError(
            f"asof_join: right_cols {clash} collide with left columns — "
            "rename one side before joining"
        )
    rstruct_t = T.StructType([T.StructField(c, right.schema[c].dataType) for c in right_cols])
    lu = left.select(
        *by,
        ts,
        *left_other,
        F.lit(None).cast(rstruct_t).alias("_rv"),
        F.lit(1).alias("_is_left"),
    )
    ru = right.select(
        *by,
        ts,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_other],
        F.struct(*right_cols).alias("_rv"),
        F.lit(0).alias("_is_left"),
    )
    u = lu.unionByName(ru)
    # right rows sort BEFORE left rows at equal ts (tag 0 < 1), so the
    # inclusive <= semantics falls out of the running window
    w = (
        Window.partitionBy(*by)
        .orderBy(ts, "_is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_rv", F.last("_rv", ignorenulls=True).over(w))
    u = u.withColumns({c: F.col(f"_rv.{c}") for c in right_cols})
    return u.filter(F.col("_is_left") == 1).drop("_is_left", "_rv")


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts: str = "us",
    start: str = "start_us",
    end: str = "end_us",
    bucket: int = 3_600_000_000,
    broadcast_intervals: bool = True,
) -> DataFrame:
    """Facts joined to every interval containing them
    (``start <= ts <= end``), via a time-bucket equi-join + exact refine
    instead of the theta join Spark would plan as a nested loop.

    ``bucket`` is in the ts unit (default 1 h in microseconds); choose
    it near the typical interval length so the per-interval explode
    fan-out stays O(1).
    """
    ib = intervals.withColumn(
        "_b", F.explode(F.sequence(F.expr(f"{start} DIV {bucket}"), F.expr(f"{end} DIV {bucket}")))
    )
    fb = facts.withColumn("_b", F.expr(f"{ts} DIV {bucket}"))
    rhs = F.broadcast(ib) if broadcast_intervals else ib
    return (
        fb.join(rhs, "_b")
        .filter((F.col(start) <= F.col(ts)) & (F.col(ts) <= F.col(end)))
        .drop("_b")
    )


def staypoints(
    events: DataFrame,
    max_gap_deg: float,
    min_events: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Stay-point detection (the movement-analytics segmentation every
    trajectory stack ships): per user, ordered by (ts, tiebreak), a STAY
    is a maximal run of consecutive events where each consecutive pair
    is within ``max_gap_deg`` planar degrees (the chain rule — one
    lag + one running sum, fully window-expressible; anchor-rule
    variants need iteration). Runs shorter than ``min_events`` are
    dropped (passing-through points).

    Emits one row per stay: (user, stay_id, n_events, start/end epoch
    MICROseconds — the q84 rule) plus integer-exact centroid SUMS in
    centi-degrees (sum_clon/sum_clat; the caller divides by n_events —
    the q83/q81 scalar-rows discipline keeps every aggregate an
    order-independent integer, so any engine reproduces the rows
    bit-for-bit when coordinates are centi-degree-exact).

    The pair test compares squared distance (dx*dx + dy*dy <=
    max_gap_deg^2): no sqrt, one IEEE-deterministic expression both
    engines evaluate identically. Scale shape: ONE window partitioned
    by user (lag + running break-count), one grouped aggregate — the
    fact table shuffles once on user; no self-join, no iteration."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    dx = F.col(lon_col) - F.lag(lon_col).over(w)
    dy = F.col(lat_col) - F.lag(lat_col).over(w)
    is_break = F.when(
        (dx * dx + dy * dy) <= F.lit(max_gap_deg * max_gap_deg), F.lit(0)
    ).otherwise(F.lit(1))  # NULL lag (first row) -> otherwise branch -> 1
    seg = events.withColumn("_brk", is_break).withColumn(
        "_stay", F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    out = seg.groupBy(F.col(user_col).alias("user_id"), F.col("_stay").alias("stay_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("start_us"),
        F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("end_us"),
        F.sum(F.round(F.col(lon_col) * 100).cast("long")).alias("sum_clon"),
        F.sum(F.round(F.col(lat_col) * 100).cast("long")).alias("sum_clat"),
    )
    return out.filter(F.col("n_events") >= min_events)


def od_flows(
    events: DataFrame,
    res: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    order_tiebreak: str = "event_id",
    min_flow: int = 1,
) -> DataFrame:
    """Origin-destination flow matrix (the movement-analytics rollup
    behind every mobility dashboard; reference serves per-region counts
    to its map layer, /root/reference/app/maps.py — this is the
    transition-matrix generalization): per user, ordered by
    (ts, tiebreak), each consecutive pair of events whose res-``res``
    grid cells DIFFER contributes one trip to the (origin_cell,
    dest_cell) flow; same-cell dwell steps are not trips. Returns
    (o_cell, d_cell, n_trips) with n_trips >= ``min_flow``.

    Scale shape: ONE window partitioned by user (a single lag), then
    one map-side-combinable groupBy on the (o,d) pair — the fact table
    shuffles once on user and the flow matrix is bounded by distinct
    cell pairs (at res<=8 a few million rows regardless of input
    scale), so the aggregate output broadcasts back into any join."""
    from pda_spark.functions import geo_udfs

    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    cell = geo_udfs.cell_of_xy_expr(lon_col, lat_col, res)
    steps = events.withColumn("_cell", cell).withColumn("_prev", F.lag("_cell").over(w))
    return (
        steps.filter(F.col("_prev").isNotNull() & (F.col("_prev") != F.col("_cell")))
        .groupBy(F.col("_prev").alias("o_cell"), F.col("_cell").alias("d_cell"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_trips"))
        .filter(F.col("n_trips") >= min_flow)
    )


def mann_kendall_trend(
    series: DataFrame,
    key_col: str = "key",
    t_col: str = "t",
    x_col: str = "x",
) -> DataFrame:
    """Mann-Kendall trend statistic per key (the emerging-hot-spot /
    space-time-cube primitive): S = sum over ordered time pairs (i < j)
    of sign(x_j - x_i). S > 0 is an increasing trend, S < 0 decreasing;
    |S| near n(n-1)/2 is monotone. Returns (key, n_t, s_stat) — all
    integer-exact, so any engine reproduces the rows bit-for-bit.

    Scale shape: the pair generation is a per-key self-join (shuffle
    both sides on key), O(T^2) rows per key where T is the series
    length — bounded by the analysis window (e.g. 30 daily bins), NOT
    by the input row count: callers aggregate raw events to (key, t)
    bins first, so a 100 TB event table enters this operator only as
    cells x bins."""
    a = series.select(
        F.col(key_col).alias("_k"), F.col(t_col).alias("_t1"), F.col(x_col).alias("_x1")
    )
    b = series.select(
        F.col(key_col).alias("_k"), F.col(t_col).alias("_t2"), F.col(x_col).alias("_x2")
    )
    s = (
        a.join(b, "_k")
        .filter(F.col("_t1") < F.col("_t2"))
        .groupBy("_k")
        .agg(F.sum(F.signum(F.col("_x2") - F.col("_x1")).cast("long")).alias("s_stat"))
    )
    n = series.groupBy(F.col(key_col).alias("_k")).agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    return n.join(s, "_k", "left").select(
        F.col("_k").alias(key_col), "n_t", F.coalesce("s_stat", F.lit(0)).alias("s_stat")
    )


def hausdorff_join(
    points: DataFrame,
    pairs: DataFrame,
    key_col: str = "key",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Symmetric (discrete) Hausdorff distance between keyed point sets
    — the classic trajectory/shape similarity measure: H(A,B) =
    max(h(A->B), h(B->A)) with h(A->B) = max over a of min over b of
    d(a,b). ``pairs`` is the candidate-pair table (key_a, key_b) — the
    caller blocks (shared-cell join, od_flows co-travel, top-k
    shortlist) and this kernel scores; at 100 TB the blocking IS the
    scalability decision, so it stays explicit rather than hidden.

    Emits (key_a, key_b, hausdorff_sq) with the SQUARED planar
    distance: d2 = dx*dx + dy*dy is a fixed IEEE op sequence and the
    min/max lattice over identical doubles is order-independent, so
    any engine replays the value bit-for-bit (no sqrt, no sum — the
    q119 discipline applied to an extremum aggregate).

    Shape: one point-pair equi-join on the pair key (cost = sum over
    pairs of |A|*|B| — bounded by the blocking), then two grouped
    min/max cascades sharing the joined table; all JVM, map-side
    combinable at every level. Point identity is the coordinate pair
    itself: duplicate positions collapse, which leaves every min/max
    unchanged (the Hausdorff distance is a set statistic)."""
    pa = points.select(
        F.col(key_col).alias("key_a"),
        F.col(x_col).alias("_xa"),
        F.col(y_col).alias("_ya"),
    )
    pb = points.select(
        F.col(key_col).alias("key_b"),
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
    )
    d2 = (F.col("_xa") - F.col("_xb")) * (F.col("_xa") - F.col("_xb")) + (
        F.col("_ya") - F.col("_yb")
    ) * (F.col("_ya") - F.col("_yb"))
    cross = (
        pairs.join(pa, "key_a")
        .join(pb, "key_b")
        .select("key_a", "key_b", "_xa", "_ya", "_xb", "_yb", d2.alias("_d2"))
    )
    h_ab = (
        cross.groupBy("key_a", "key_b", "_xa", "_ya")
        .agg(F.min("_d2").alias("_m"))
        .groupBy("key_a", "key_b")
        .agg(F.max("_m").alias("_hab"))
    )
    h_ba = (
        cross.groupBy("key_a", "key_b", "_xb", "_yb")
        .agg(F.min("_d2").alias("_m"))
        .groupBy("key_a", "key_b")
        .agg(F.max("_m").alias("_hba"))
    )
    return h_ab.join(h_ba, ["key_a", "key_b"]).select(
        "key_a", "key_b", F.greatest("_hab", "_hba").alias("hausdorff_sq")
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    window_us: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Earliest-cascade event funnel (the product-analytics windowFunnel):
    the population is every user with a step-1 event; t1 = their
    earliest step-1 timestamp, and t_k = the earliest step-k event
    strictly after t_{k-1} and within ``window_us`` of t1. Returns
    (user, t1..tN, funnel_level = completed prefix length).

    Earliest-cascade is the DETERMINISTIC funnel definition: each level
    is a min over a filtered set, so the result is order-independent
    and engine-exact. (The maximal variant — "does ANY step-1 event
    admit a completion" — needs per-user sequence scans; this cascade
    is the standard one-pass-per-level relational form.) Note
    timestamps are integer microseconds (unix_micros / epoch_us — the
    q84 portability rule).

    Scale shape: one grouped min per level over a type-filtered join
    against the (one-row-per-user) cascade so far — each level is an
    equi-join on the user key plus a map-side-combinable min; level
    count is the only multiplier, never the event volume."""
    if len(steps) < 2:
        raise ValueError("funnel needs >= 2 steps")
    base = events.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_ty"),
        F.col(ts_col).cast("long").alias("_us"),
    )
    cur = (
        base.filter(F.col("_ty") == steps[0])
        .groupBy("_u")
        .agg(F.min("_us").alias("t1"))
    )
    for k, step in enumerate(steps[1:], start=2):
        prev = f"t{k - 1}"
        nxt = (
            base.filter(F.col("_ty") == step)
            .join(cur.select("_u", "t1", F.col(prev).alias("_tp")), "_u")
            .filter(
                (F.col("_us") > F.col("_tp"))
                & (F.col("_us") <= F.col("t1") + F.lit(window_us))
            )
            .groupBy("_u")
            .agg(F.min("_us").alias(f"t{k}"))
        )
        cur = cur.join(nxt, "_u", "left")
    level = F.lit(1)
    for k in range(2, len(steps) + 1):
        level = level + F.when(F.col(f"t{k}").isNotNull(), 1).otherwise(0)
    return cur.select(
        F.col("_u").alias(user_col),
        *[f"t{k}" for k in range(1, len(steps) + 1)],
        level.cast("long").alias("funnel_level"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    period_us: int = 7 * 86400 * 1_000_000,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the period (epoch
    week by default) of their FIRST event; each later active period
    counts them once at its offset. Returns (cohort_period, offset,
    n_users) — the table behind every retention curve/heatmap. Periods
    are integer epoch-microsecond floors (us div period), calendar-free
    and engine-exact.

    Shape: one per-user min (cohort), one distinct (user, period)
    activity table, one broadcast-able join back, one grouped count —
    every step keyed on user or (cohort, offset), all map-side
    combinable; nothing scans events twice."""
    # Spark `div` truncates toward zero while DuckDB `//` floors — they
    # agree only for NONNEGATIVE epochs (post-1970 data; documented
    # contract, same as q93's packing arithmetic)
    base = events.select(
        F.col(user_col).alias("_u"),
        F.expr(f"CAST({ts_col} AS BIGINT) div {int(period_us)}").alias("_p"),
    )
    cohort = base.groupBy("_u").agg(F.min("_p").alias("_c"))
    active = base.distinct()
    return (
        active.join(cohort, "_u")
        .groupBy(
            F.col("_c").alias("cohort_period"),
            (F.col("_p") - F.col("_c")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def knox_counts(
    points: DataFrame,
    eps: float,
    tau_us: int,
    x_col: str = "x",
    y_col: str = "y",
    t_col: str = "t_us",
    id_col: str = "id",
) -> DataFrame:
    """Knox space-time interaction components (Knox 1964, the classic
    epidemiology / event-cluster test): over all unordered point pairs,
    how many are close in SPACE (planar distance <= eps), close in TIME
    (|dt| <= tau_us microseconds), and close in BOTH — the 2x2 table
    the Knox statistic is built from. Returns ONE row of exact integers
    (n_points, n_pairs, n_space, n_time, n_both); significance
    (permutation / chi-square) is the caller's statistical choice.

    Distributed shape — never the O(n^2) pair scan: each count blocks
    on its own key and meets every qualifying pair EXACTLY once (the
    scattered side fans out over the 3x3 eps-grid neighborhood and/or
    the +-1 tau-bucket window; the probe side keeps its single
    cell/bucket, so a pair matches on precisely one arm), then an
    exact predicate verifies. n_pairs is n*(n-1)/2 — arithmetic, not a
    join. All integer outputs, order-independent, engine-exact."""
    if eps <= 0 or tau_us <= 0:
        raise ValueError(f"need eps > 0 and tau_us > 0, got eps={eps} tau_us={tau_us}")
    eps2 = eps * eps
    base = points.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        F.col(t_col).cast("long").alias("_t"),
        F.floor(F.col(x_col).cast("double") / F.lit(eps)).alias("_gx"),
        F.floor(F.col(y_col).cast("double") / F.lit(eps)).alias("_gy"),
        F.expr(f"CAST(`{t_col}` AS BIGINT) div {int(tau_us)}").alias("_tb"),
    ).localCheckpoint(eager=False)

    s_off = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    t_off = (-1, 0, 1)

    space_pred = (
        (F.col("l._x") - F.col("r._x")) * (F.col("l._x") - F.col("r._x"))
        + (F.col("l._y") - F.col("r._y")) * (F.col("l._y") - F.col("r._y"))
        <= F.lit(eps2)
    )
    time_pred = F.abs(F.col("l._t") - F.col("r._t")) <= F.lit(int(tau_us))
    lt = F.col("l._id") < F.col("r._id")

    sc_space = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in s_off])
    ).alias("o")
    left_s = base.select("*", sc_space).select(
        F.col("_id"), F.col("_x"), F.col("_y"), F.col("_t"),
        (F.col("_gx") + F.col("o.dx")).alias("_gx"),
        (F.col("_gy") + F.col("o.dy")).alias("_gy"),
        F.col("_tb"),
    )
    # ONE job yields both space counts: the space join already meets
    # every space-close pair exactly once with both timestamps in
    # scope, so n_both is a conditional aggregate on the same rows —
    # a separate 27-arm space-x-time scatter would double the shuffle
    # volume for no extra information (review finding).
    srow = (
        left_s.alias("l")
        .join(base.alias("r"), ["_gx", "_gy"])
        .filter(lt & space_pred)
        .agg(
            F.count(F.lit(1)).alias("_ns"),
            F.coalesce(F.sum(F.when(time_pred, 1)), F.lit(0)).alias("_nb"),
        )
        .collect()[0]
    )
    n_space, n_both = int(srow._ns), int(srow._nb)

    left_t = base.select(
        "_id", "_t", F.explode(F.array(*[(F.col("_tb") + F.lit(o)) for o in t_off])).alias("_tb")
    )
    n_time = (
        left_t.alias("l").join(base.alias("r"), ["_tb"]).filter(lt & time_pred).count()
    )

    n = base.count()
    spark = points.sparkSession
    return spark.createDataFrame(
        [(n, n * (n - 1) // 2, n_space, n_time, n_both)],
        "n_points long, n_pairs long, n_space long, n_time long, n_both long",
    )


def interval_coverage(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Sweep-line aggregate over half-open integer intervals
    ``[start, end)`` per key: one row per key with the UNION length
    (total covered span, overlaps merged — sensor uptime, in-transit
    coverage), the MAX CONCURRENCY (peak number of simultaneously open
    intervals) and the earliest instant that peak is first reached.
    The classic +1/-1 event sweep, expressed relationally:

    - every interval contributes (+1 at start, -1 at end); deltas are
      SUMMED PER DISTINCT INSTANT first, which makes the running sum
      tie-free by construction (the half-open convention: an interval
      ending at t and another starting at t never overlap, and the
      per-instant net delta encodes that exactly);
    - one ordered window per key gives the running coverage; the gap
      to the next instant is covered iff coverage > 0; union length =
      sum of covered gaps — all int64, engine-exact.

    Degenerate intervals (start >= end) are dropped (zero-length
    half-open sets are empty). The per-key window is bounded by the
    number of DISTINCT instants under a key — the same contract as
    sessionization; keys with corpus-scale interval counts should
    pre-bucket time (the q84 RANGE-frame discipline).

    Peak tie-break: peak_at = the minimum instant whose running
    coverage equals the maximum — via one max(struct(coverage, -t))
    (lexicographic struct order IS the argmax, the q136 discipline)."""
    iv = df.filter(F.col(start_col) < F.col(end_col)).select(
        F.col(key_col).alias("key"),
        F.col(start_col).cast("long").alias("_s"),
        F.col(end_col).cast("long").alias("_e"),
    )
    pts = iv.select("key", F.col("_s").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select("key", F.col("_e").alias("t"), F.lit(-1).alias("d"))
    )
    per_t = pts.groupBy("key", "t").agg(F.sum("d").alias("d"))
    w = Window.partitionBy("key").orderBy("t")
    swept = per_t.select(
        "key",
        "t",
        F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_cov"),
        F.lead("t").over(w).alias("_nxt"),
    )
    seg = F.when(
        (F.col("_cov") > 0) & F.col("_nxt").isNotNull(), F.col("_nxt") - F.col("t")
    ).otherwise(F.lit(0))
    return (
        swept.groupBy("key")
        .agg(
            F.sum(seg).cast("long").alias("covered_len"),
            F.max(F.struct(F.col("_cov").alias("c"), (-F.col("t")).alias("nt"))).alias("_pk"),
        )
        .select(
            "key",
            "covered_len",
            F.col("_pk.c").cast("long").alias("max_concurrency"),
            (-F.col("_pk.nt")).cast("long").alias("peak_at"),
        )
    )


def ols_trend(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key ordinary-least-squares trend line — the parametric
    sibling of ``mann_kendall_trend`` (which is rank-based): slope and
    intercept of y ~ x from the closed-form normal equations, carried
    as EXACT int64 sums (x and y must be integer-valued; callers
    pre-scale — epoch days / integer cents — the q83 discipline):

        slope     = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
        intercept = (Sy - slope*Sx) / n

    Emits the integer numerator/denominator alongside the one-division
    floats (round 6), so the gate replays exact integers and the float
    is a single identical libm op in both engines. Keys with zero
    x-variance (denominator 0) emit NULL slope/intercept (vertical
    line). Overflow contract (document, not check): |n*Sxy| and
    |n*Sxx| must fit int64 — pre-center x near 0 for long series."""
    g = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        )
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_x").alias("sx"),
            F.sum("_y").alias("sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
            F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        )
    )
    num = g["n"] * g["sxy"] - g["sx"] * g["sy"]
    den = g["n"] * g["sxx"] - g["sx"] * g["sx"]
    slope = F.when(den != 0, num.cast("double") / den.cast("double"))
    intercept = F.when(
        den != 0,
        (g["sy"].cast("double") - (num.cast("double") / den.cast("double")) * g["sx"].cast("double"))
        / g["n"].cast("double"),
    )
    return g.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.col("sx").cast("long").alias("sx"),
        F.col("sy").cast("long").alias("sy"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def theil_sen_slope(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil-Sen estimator per key: the MEDIAN of all pairwise slopes
    (y_j - y_i)/(x_j - x_i), x_i < x_j — the robust-magnitude
    companion to ``mann_kendall_trend`` (which tests direction) and
    ``ols_trend`` (which outliers can drag arbitrarily; Theil-Sen
    tolerates ~29% contamination). Inputs must be integer-valued so
    each pairwise slope is ONE exact division; the median then runs on
    the exact-percentile path (the q67 Spark-percentile ==
    quantile_cont bit-exactness — interpolation between two doubles is
    the same single float op in both engines).

    Shape: the pair generation is a per-key self-join (O(n_k^2) rows
    per key) — the textbook estimator's inherent cost; callers bound
    n_k (sample or time-window) exactly as they would for q123
    Hausdorff or q146 Knox. Returns (key, n, n_pairs, slope)."""
    b = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    a2 = b.select("key", F.col("_x").alias("_x2"), F.col("_y").alias("_y2"))
    pairs = b.join(a2, "key").filter(F.col("_x") < F.col("_x2"))
    slopes = pairs.select(
        "key",
        (
            (F.col("_y2") - F.col("_y")).cast("double")
            / (F.col("_x2") - F.col("_x")).cast("double")
        ).alias("_s"),
    )
    n = b.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("n"))
    med = slopes.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile(_s, 0.5)").alias("_med"),
    )
    return n.join(med, "key", "left").select(
        "key",
        "n",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.round("_med", 6).alias("slope"),
    )


def dtw_join(
    trajs: DataFrame,
    pairs: DataFrame,
    key_col: str = "key",
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """Dynamic-time-warping distance between keyed coordinate SEQUENCES
    — the order-aware companion to ``hausdorff_join`` (which scores
    point SETS): DTW aligns the two sequences monotonically and sums
    the Manhattan step costs along the cheapest alignment (Sakoe &
    Chiba 1978; the standard trajectory/time-series similarity when
    sampling rates differ). Coordinates must be integer-valued
    (pre-scale to integer units) so the DP is exact int64 end-to-end —
    engine-replayable with no float accumulation.

    ``trajs`` carries one row per key with the ordered coordinate
    arrays; ``pairs`` is the candidate-pair table — blocking stays
    with the caller (the hausdorff_join contract). The DP is
    inherently sequential per pair, so this is one of the few
    legitimate Pandas-UDF operators: ONE Arrow stage over the joined
    pair rows (the chained-UDF rule), O(len_a * len_b) ints per pair —
    callers bound sequence length exactly as they bound pair count.
    Returns (key_a, key_b, len_a, len_b, dtw); an empty side yields
    NULL dtw."""

    @F.pandas_udf("long")
    def _dtw(xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for k in range(len(xa)):
            ax = np.asarray(xa[k], dtype=np.int64)
            ay = np.asarray(ya[k], dtype=np.int64)
            bx = np.asarray(xb[k], dtype=np.int64)
            by = np.asarray(yb[k], dtype=np.int64)
            n, m = len(ax), len(bx)
            if n == 0 or m == 0:
                out.append(None)
                continue
            prev = None
            for r in range(n):
                d = np.abs(bx - ax[r]) + np.abs(by - ay[r])
                if prev is None:
                    cur = np.cumsum(d)
                else:
                    cur = np.empty(m, dtype=np.int64)
                    cur[0] = prev[0] + d[0]
                    for j in range(1, m):
                        p = prev[j] if prev[j] < prev[j - 1] else prev[j - 1]
                        if cur[j - 1] < p:
                            p = cur[j - 1]
                        cur[j] = d[j] + p
                prev = cur
            out.append(int(prev[-1]))
        return pd.Series(out, dtype="Int64")

    ta = trajs.select(
        F.col(key_col).alias("key_a"),
        F.col(xs_col).alias("_xa"),
        F.col(ys_col).alias("_ya"),
    )
    tb = trajs.select(
        F.col(key_col).alias("key_b"),
        F.col(xs_col).alias("_xb"),
        F.col(ys_col).alias("_yb"),
    )
    return (
        pairs.join(ta, "key_a")
        .join(tb, "key_b")
        .select(
            "key_a",
            "key_b",
            F.size("_xa").cast("long").alias("len_a"),
            F.size("_xb").cast("long").alias("len_b"),
            _dtw("_xa", "_ya", "_xb", "_yb").alias("dtw"),
        )
    )


def comovement_pairs(
    events: DataFrame,
    cell_deg: float,
    bucket_us: int,
    min_consecutive: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Co-movement (flock/convoy-lite) detection: user pairs that
    share the SAME grid cell in >= ``min_consecutive`` CONSECUTIVE
    time buckets — the trajectory-mining primitive behind contact
    tracing, ride-sharing detection and convoy discovery. Composition
    of the engine's own blocks: grid-cell assignment (floor lon/lat
    over cell_deg), per-(bucket, cell) user self-join (pairs meet only
    where they co-locate — the blocking IS the scale story; a hot cell
    fans out like any hot key and salts the same way), distinct
    shared buckets per pair, then the gaps-islands rn-difference trick
    over the shared bucket sequence; islands shorter than the
    threshold drop. Returns (user_a, user_b, run_start_bucket,
    run_len) — one row per qualifying run. All integer arithmetic."""
    gx = F.floor(F.col(lon_col) / F.lit(cell_deg)).cast("long")
    gy = F.floor(F.col(lat_col) / F.lit(cell_deg)).cast("long")
    # integer div, not float-divide-then-cast (epoch micros exceed the
    # range where double quotients are guaranteed faithful)
    bucket = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {int(bucket_us)}")
    placed = events.select(
        F.col(user_col).alias("u"), gx.alias("gx"), gy.alias("gy"), bucket.alias("b")
    ).distinct()
    pairs = (
        placed.join(
            placed.select(
                F.col("u").alias("u2"), F.col("gx").alias("gx"),
                F.col("gy").alias("gy"), F.col("b").alias("b"),
            ),
            ["gx", "gy", "b"],
        )
        .filter(F.col("u") < F.col("u2"))
        .select(F.col("u").alias("user_a"), F.col("u2").alias("user_b"), "b")
        .distinct()
    )
    # run detection = the ONE gaps-islands implementation (composite
    # pair key; round-6 review folded the inline rn-difference copy
    # back into timeseries.gaps_islands)
    from pda_spark.operators.timeseries import gaps_islands

    runs = gaps_islands(pairs, ["user_a", "user_b"], "b")
    return runs.filter(F.col("island_len") >= F.lit(min_consecutive)).select(
        "user_a",
        "user_b",
        F.col("island_start").alias("run_start_bucket"),
        F.col("island_len").alias("run_len"),
    )


def pearson_exact(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Pearson correlation from EXACT int64 sums — the
    determinism story Spark's own ``corr`` (streaming float
    covariance, partition-order-dependent rounding) cannot give a
    cross-engine gate: all five sums (n, Sx, Sy, Sxx, Syy, Sxy) are
    exact integers (the q150 normal-equation discipline), and r =
    (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)) is a
    fixed four-op float tail (two IEEE-exact sqrts, one multiply, one
    divide) both engines replay bit-for-bit. Zero-variance keys emit
    NULL r. Same overflow contract as ols_trend."""
    g = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        )
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_x").alias("sx"),
            F.sum("_y").alias("sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
            F.sum(F.col("_y") * F.col("_y")).alias("syy"),
            F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        )
    )
    num = g["n"] * g["sxy"] - g["sx"] * g["sy"]
    dx = g["n"] * g["sxx"] - g["sx"] * g["sx"]
    dy = g["n"] * g["syy"] - g["sy"] * g["sy"]
    r = F.when(
        (dx > 0) & (dy > 0),
        num.cast("double") / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
    )
    return g.select(
        "key",
        F.col("n").cast("long").alias("n"),
        num.cast("long").alias("r_num"),
        dx.cast("long").alias("dx"),
        dy.cast("long").alias("dy"),
        F.round(r, 6).alias("r"),
    )
