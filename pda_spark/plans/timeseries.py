"""Registry time-series queries: heat series, sessions, as-of and interval
joins, trajectories, trends, smoothing and change detection.

Builders and oracle SQL follow the conventions stated in registry.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pda_spark.functions import geo_udfs
from pda_spark.plans.fixtures import _event_points, _EVENT_POINTS_SQL, _events_us, _N6, _RQ_REPR, _t


def _heat_sql(grain: str) -> str:
    from pda_spark.operators.timeseries import GRAINS, _DATE_GRAINS, _STEP

    field = GRAINS[grain]
    cast = "::DATE" if grain in _DATE_GRAINS else ""
    step = _STEP[grain].upper()
    return f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
agg AS (
  SELECT date_trunc('{field}', ts){cast} AS bucket, count(*) AS n_events,
         -- outer CAST: DuckDB sum(BIGINT) is HUGEINT -> float64 in pandas,
         -- which fails the driver's hash gate (5.0 vs 5). See Q10_SQL.
         CAST(sum(CAST(floor(lat * 100.0) AS BIGINT)) AS BIGINT) AS sum_lat_c,
         CAST(sum(CAST(floor(lon * 100.0) AS BIGINT)) AS BIGINT) AS sum_lon_c
  FROM pts GROUP BY 1
), buckets AS (
  SELECT unnest(generate_series(
           date_trunc('{field}', (SELECT min(ts) FROM pts)){cast},
           date_trunc('{field}', (SELECT max(ts) FROM pts)){cast},
           {step})){cast} AS bucket
)
SELECT buckets.bucket AS bucket,
       coalesce(n_events, 0) AS n_events,
       coalesce(sum_lat_c, 0) AS sum_lat_c,
       coalesce(sum_lon_c, 0) AS sum_lon_c
FROM buckets LEFT JOIN agg ON buckets.bucket = agg.bucket
"""


def q13_heat_weekly(spark, sf_dir):
    """Period-bucketed heat time series, weekly grain (reference
    app/maps.py:56-76: dt.to_period + period_range gap fill + per-bucket
    lat/lon heat aggregation). F13 full-grain operator."""
    from pda_spark.operators import timeseries

    return timeseries.heat_timeseries(_event_points(spark, sf_dir), grain="W")


def q14_heat_hourly(spark, sf_dir):
    """Same operator at hourly grain (timestamp-typed buckets)."""
    from pda_spark.operators import timeseries

    return timeseries.heat_timeseries(_event_points(spark, sf_dir), grain="H")


_SESSION_GAP_US = 1_800_000_000  # 30 min


def q55_sessionize(spark, sf_dir):
    """Sessionization (gaps-and-islands over the event stream): a new
    session starts after a >30 min silence per user; output is one row
    per session with event count and micro-second-exact bounds. One
    shuffle on user_id, two streaming window passes, one partial-agg
    group — the canonical clickstream shape at any scale. Epoch
    MICROSECONDS throughout (unix_micros / epoch_us) so both engines
    compare exact integers — no seconds-truncation divergence."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; session TZ is pinned UTC
    # (session.py), so the cast is an exact epoch reinterpretation that
    # matches DuckDB's epoch_us over the same naive value
    e = ev.select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    lag = F.lag("us").over(w)
    new_sess = (lag.isNull() | ((F.col("us") - lag) > _SESSION_GAP_US)).cast("long")
    s = e.withColumn("session_no", F.sum(new_sess).over(w))
    return s.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("sess_start_us"),
        F.max("us").alias("sess_end_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


Q55_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
), f AS (
  SELECT user_id, us, event_id,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS nf
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
  SELECT user_id, us,
         CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM f
)
SELECT user_id, session_no,
       count(*) AS n_events,
       min(us) AS sess_start_us,
       max(us) AS sess_end_us,
       max(us) - min(us) AS duration_us
FROM s GROUP BY user_id, session_no
"""


def q57_asof_join(spark, sf_dir):
    """As-of join (operators/temporal.py): each purchase event gets the
    value of the user's LATEST preceding view event — one shuffle on the
    key, union + window forward-fill, no join fan-out. The oracle is
    DuckDB's NATIVE ASOF LEFT JOIN, i.e. an independent reference
    implementation of the semantics, not a transcription of ours."""
    from pda_spark.operators import temporal

    e = _events_us(spark, sf_dir)
    quotes = e.filter(F.col("event_type") == "view").select(
        "user_id", "us", F.col("value").alias("quote_value")
    )
    trades = e.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "us")
    j = temporal.asof_join(trades, quotes, by=["user_id"], ts="us", right_cols=["quote_value"])
    return j.select(
        "event_id", "user_id", "us", F.coalesce("quote_value", F.lit(-1.0)).alias("quote_value")
    )


Q57_SQL = """
WITH e AS (SELECT *, epoch_us(ts) AS us FROM events),
q AS (SELECT user_id, us, value AS quote_value FROM e WHERE event_type = 'view'),
t AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase')
SELECT t.event_id, t.user_id, t.us,
       coalesce(q.quote_value, -1.0) AS quote_value
FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.us >= q.us
"""


def q58_interval_join(spark, sf_dir):
    """Interval (range) join via the time-bucket equi-join
    (operators/temporal.py) — the temporal sibling of the spatial cell
    index, replacing the BroadcastNestedLoop a raw theta join plans.
    25 maintenance windows are derived arithmetically from the nation
    table anchored at the events' min timestamp; output is per-window
    event count + value sum. Oracle runs the naive theta join."""
    from pda_spark.operators import temporal

    e = _events_us(spark, sf_dir).select("event_id", "us", "value")
    t0 = e.agg(F.min("us").alias("t0"))
    n = _t(spark, sf_dir, "nation")
    wins = (
        n.crossJoin(F.broadcast(t0))
        .select(
            F.col("n_nationkey").alias("win_id"),
            (F.col("t0") + F.col("n_nationkey") * F.lit(7_200_000_000)).alias("start_us"),
        )
        .withColumn(
            "end_us",
            F.col("start_us")
            + (F.pmod(F.col("win_id"), F.lit(5)) + 1) * F.lit(1_800_000_000).cast("long"),
        )
    )
    j = temporal.interval_join(e, wins, ts="us", start="start_us", end="end_us")
    # value is 2-decimal money: per-row exact cents, then a LONG sum —
    # a double sum's partial-agg order differs between engines and
    # value*N sits on integer boundaries where ulp drift flips floor()
    cents = F.round(F.col("value") * 100).cast("long")
    return j.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("sum_value_cents"),
    )


Q58_SQL = """
WITH e AS (SELECT event_id, epoch_us(ts) AS us, value FROM events),
t0 AS (SELECT min(us) AS t0 FROM e),
wins AS (
  SELECT n_nationkey AS win_id,
         t0 + n_nationkey * 7200000000 AS start_us,
         t0 + n_nationkey * 7200000000 + ((n_nationkey % 5) + 1) * CAST(1800000000 AS BIGINT) AS end_us
  FROM nation, t0
)
SELECT win_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM e JOIN wins ON start_us <= us AND us <= end_us
GROUP BY win_id
"""


def q113_staypoints(spark, sf_dir):
    """Stay-point detection over the event stream (movement-analytics
    segmentation): chain rule — consecutive same-user events within 6
    planar degrees extend the stay, one lag + one running break-count
    window, one grouped aggregate. All emitted aggregates are
    order-independent integers (epoch micros, centi-degree coordinate
    sums); the squared-distance pair test is a single IEEE expression
    both engines evaluate identically."""
    from pda_spark.operators import temporal

    pts = _event_points(spark, sf_dir)
    out = temporal.staypoints(pts, max_gap_deg=6.0, min_events=2)
    return out.select(
        "user_id", "stay_id", "n_events", "start_us", "end_us", "sum_clon", "sum_clat"
    )


Q113_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
l AS (
  SELECT user_id, event_id, ts, lon, lat,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), b AS (
  SELECT *, CASE WHEN ((lon - plon) * (lon - plon) + (lat - plat) * (lat - plat))
                      <= 36.0 THEN 0 ELSE 1 END AS brk
  FROM l
), s AS (
  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS stay_id
  FROM b
)
SELECT user_id, stay_id, CAST(count(*) AS BIGINT) AS n_events,
       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
       CAST(sum(CAST(round(lon * 100) AS BIGINT)) AS BIGINT) AS sum_clon,
       CAST(sum(CAST(round(lat * 100) AS BIGINT)) AS BIGINT) AS sum_clat
FROM s GROUP BY user_id, stay_id HAVING count(*) >= 2
"""


def q115_od_flows(spark, sf_dir):
    """Origin-destination flow matrix (mobility-analytics rollup): per
    user, consecutive events whose res-5 grid cells differ contribute
    one trip to the (origin, destination) cell pair. One window
    (single lag) + one map-side-combinable groupBy — the flow matrix
    is bounded by distinct cell pairs regardless of input scale."""
    from pda_spark.operators import temporal

    pts = _event_points(spark, sf_dir)
    return temporal.od_flows(pts, res=5, min_flow=1)


_N5 = 1 << 5

Q115_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
c AS (
  SELECT user_id, event_id, ts,
         (5::BIGINT * 288230376151711744
          + (least(greatest(floor((lon + 180.0) / 360.0 * {_N5}), 0), {_N5 - 1})::BIGINT << 29)
          + least(greatest(floor((lat + 90.0) / 180.0 * {_N5}), 0), {_N5 - 1})::BIGINT) AS cell
  FROM pts
), l AS (
  SELECT cell, lag(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM c
)
SELECT prev AS o_cell, cell AS d_cell, CAST(count(*) AS BIGINT) AS n_trips
FROM l WHERE prev IS NOT NULL AND prev <> cell
GROUP BY 1, 2
"""


def q117_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend per res-6 cell over daily event counts (the
    emerging-hot-spot space-time statistic): raw events aggregate to a
    dense (cell, day) grid first (distinct cells x distinct days — both
    bounded dims, so the crossJoin is a labelled bounded grid, zeros
    are real observations), then the O(T^2) per-cell pair self-join
    sums sign(x_j - x_i). All integer-exact."""
    from pda_spark.operators import temporal

    res = 6
    pts = _event_points(spark, sf_dir)
    c = pts.select(
        geo_udfs.cell_of_xy_expr("lon", "lat", res).alias("cell"),
        F.to_date("ts").alias("d"),
    )
    cnt = c.groupBy("cell", "d").agg(F.count(F.lit(1)).alias("n"))
    grid = cnt.select("cell").distinct().crossJoin(c.select("d").distinct())
    series = grid.join(cnt, ["cell", "d"], "left").select(
        "cell", "d", F.coalesce("n", F.lit(0)).alias("x")
    )
    return temporal.mann_kendall_trend(series, key_col="cell", t_col="d", x_col="x")


Q117_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
c AS (
  SELECT (6::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell, d FROM (
    SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
           least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
           ts::DATE AS d
    FROM pts)
), cnt AS (
  SELECT cell, d, count(*) AS n FROM c GROUP BY 1, 2
), series AS (
  SELECT g.cell, g.d, coalesce(cnt.n, 0)::BIGINT AS x
  FROM (SELECT cell, d FROM (SELECT DISTINCT cell FROM cnt) CROSS JOIN (SELECT DISTINCT d FROM c)) g
  LEFT JOIN cnt USING (cell, d)
), s AS (
  SELECT a.cell,
         CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM series a JOIN series b ON a.cell = b.cell AND a.d < b.d
  GROUP BY a.cell
)
SELECT n.cell, n.n_t, coalesce(s.s_stat, 0) AS s_stat
FROM (SELECT cell, CAST(count(*) AS BIGINT) AS n_t FROM series GROUP BY cell) n
LEFT JOIN s USING (cell)
"""


def q131_cusum(spark, sf_dir):
    """CUSUM change point per res-6 cell over the dense daily count
    grid (the q117 grid, t as integer epoch days): scaled deviation
    n*cum_k - k*S stays integral, argmax tie-breaks to the smallest
    day via one max(struct(absdev, -t)) — everything integer, the
    oracle re-derives with a join-back argmax instead."""
    from pda_spark.operators import timeseries

    res = 6
    pts = _event_points(spark, sf_dir)
    c = pts.select(
        geo_udfs.cell_of_xy_expr("lon", "lat", res).alias("cell"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias("d"),
    )
    cnt = c.groupBy("cell", "d").agg(F.count(F.lit(1)).alias("n"))
    grid = cnt.select("cell").distinct().crossJoin(c.select("d").distinct())
    series = grid.join(cnt, ["cell", "d"], "left").select(
        "cell", "d", F.coalesce("n", F.lit(0)).alias("x")
    )
    return timeseries.cusum_changepoint(series, key_col="cell", t_col="d", x_col="x")


Q131_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
c AS (
  SELECT (6::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell, d FROM (
    SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
           least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
           epoch_us(ts) // 86400000000 AS d
    FROM pts)
), cnt AS (
  SELECT cell, d, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2
), series AS (
  SELECT g.cell, g.d, coalesce(cnt.n, 0)::BIGINT AS x
  FROM (SELECT cell, d FROM (SELECT DISTINCT cell FROM cnt)
        CROSS JOIN (SELECT DISTINCT d FROM c)) g
  LEFT JOIN cnt USING (cell, d)
), cum AS (
  SELECT cell AS key, d AS t,
         CAST(sum(x) OVER (PARTITION BY cell ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(row_number() OVER (PARTITION BY cell ORDER BY d) AS BIGINT) AS k
  FROM series
), tot AS (
  SELECT cell AS key, CAST(count(*) AS BIGINT) AS n_t,
         CAST(sum(x) AS BIGINT) AS total
  FROM series GROUP BY 1
), dev AS (
  SELECT cum.key, cum.t, tot.n_t, tot.total,
         abs(tot.n_t * cum.cum - cum.k * tot.total) AS absdev
  FROM cum JOIN tot USING (key)
), mx AS (
  SELECT key, max(absdev) AS max_absdev FROM dev GROUP BY key
)
SELECT d.key, d.n_t, d.total, mx.max_absdev, CAST(min(d.t) AS BIGINT) AS cp_t
FROM dev d JOIN mx ON d.key = mx.key AND d.absdev = mx.max_absdev
GROUP BY 1, 2, 3, 4
"""


def q128_funnel(spark, sf_dir):
    """Earliest-cascade funnel view -> click -> purchase with a 7-day
    completion window from t1. All timestamps are integer epoch
    microseconds (unix_micros / epoch_us, the q84 rule); every level is
    a min over a filtered set, so the cascade is order-independent and
    engine-exact. Partial funnels (NULL t2/t3) are kept — the level
    histogram is the product metric."""
    from pda_spark.operators import temporal

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return temporal.funnel(
        ev, steps=["view", "click", "purchase"], window_us=7 * 86400 * 1_000_000
    )


Q128_SQL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), s1 AS (
  SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(us) AS t2
  FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND us > t1 AND us <= t1 + {7 * 86400 * 1_000_000}
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(us) AS t3
  FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND us > t2 AND us <= t1 + {7 * 86400 * 1_000_000}
  GROUP BY 1
)
SELECT s1.user_id, t1, t2, t3,
       CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS funnel_level
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q129_cohort_retention(spark, sf_dir):
    """Daily cohort retention matrix over PURCHASE events: cohort =
    epoch-day of the user's first purchase (first purchases spread over
    several days, so multiple cohorts exist at every SF — the weekly
    all-events variant collapsed to one cohort), offsets count distinct
    active days — pure integer floor-division periods (nonnegative-
    epoch contract), three integer columns."""
    from pda_spark.operators import temporal

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    )
    return temporal.cohort_retention(ev, period_us=86400 * 1_000_000)


Q129_SQL = f"""
WITH base AS (
  SELECT user_id AS u, epoch_us(ts) // {86400 * 1_000_000} AS p
  FROM events WHERE event_type = 'purchase'
), cohort AS (
  SELECT u, min(p) AS c FROM base GROUP BY 1
), active AS (
  SELECT DISTINCT u, p FROM base
)
SELECT c AS cohort_period, p - c AS offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active JOIN cohort USING (u)
GROUP BY 1, 2
"""


def q141_speed_filter(spark, sf_dir):
    """GPS-trajectory cleaning (impossible-speed filter): per user,
    consecutive fixes ordered by (ts, event_id), speed = geodesic
    metres / elapsed seconds, flagged above 350 m/s (no ground/air
    vehicle). The distance runs through the q78/q88 numpy haversine
    kernel (Arrow UDF — numpy and DuckDB share libm, which is WHY the
    geodesic legs gate; a pure-Catalyst trig chain would ride JVM
    Math and drift ULPs). Zero-dt pairs (tied timestamps) are excluded
    up front — speed is undefined there (documented contract)."""
    pts = _event_points(spark, sf_dir)
    # ordering by ts_us == ordering by ts (unix_micros is strictly
    # monotone), and ts_us is what the projection below keeps
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = pts.select(
        "user_id",
        "event_id",
        "lon",
        "lat",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).select(
        "*",
        F.lag("lon").over(w).alias("plon"),
        F.lag("lat").over(w).alias("plat"),
        F.lag("ts_us").over(w).alias("pts_us"),
    )
    t = t.filter(F.col("pts_us").isNotNull() & (F.col("ts_us") > F.col("pts_us")))
    dist = geo_udfs.distance_geodesic_lonlat()(
        F.col("plon"), F.col("plat"), F.col("lon"), F.col("lat")
    )
    t = t.withColumn(
        "speed_mps", dist / ((F.col("ts_us") - F.col("pts_us")) / F.lit(1000000.0))
    )
    return t.select(
        "user_id",
        "event_id",
        F.round("speed_mps", 6).alias("speed_mps"),
        F.when(F.col("speed_mps") > 350.0, 1).otherwise(0).cast("long").alias("impossible"),
    )


Q141_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
lagged AS (
  SELECT user_id, event_id, lon, lat,
         epoch_us(ts::TIMESTAMP) AS ts_us,
         lag(lon) OVER w AS plon,
         lag(lat) OVER w AS plat,
         lag(epoch_us(ts::TIMESTAMP)) OVER w AS pts_us
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), moves AS (
  SELECT user_id, event_id,
         (2.0 * CAST({_RQ_REPR} AS DOUBLE) * asin(sqrt(least(greatest(
              pow(sin((radians(lat) - radians(plat)) / 2.0), 2)
              + cos(radians(plat)) * cos(radians(lat))
                * pow(sin((radians(lon) - radians(plon)) / 2.0), 2),
          0.0), 1.0))))
         / ((ts_us - pts_us) / 1000000.0) AS speed_mps
  FROM lagged WHERE pts_us IS NOT NULL AND ts_us > pts_us
)
SELECT user_id, event_id, round(speed_mps, 6) AS speed_mps,
       CAST(CASE WHEN speed_mps > 350.0 THEN 1 ELSE 0 END AS BIGINT) AS impossible
FROM moves
"""


_KNOX_EPS = 0.5          # 0.25 = eps^2 is binary-exact
_KNOX_TAU_US = 3_600_000_000  # one hour


def q146_knox(spark, sf_dir):
    """Knox space-time interaction table (event clustering in space AND
    time): exact pair counts close in space / time / both over a
    5000-event subset (SF-stable fixture). The engine blocks on the
    eps-grid and tau-buckets so no O(n^2) scan ever runs; the oracle IS
    the brute-force O(n^2) pair scan — blocking completeness is the
    thing under test (the q135 discipline)."""
    from pda_spark.operators import temporal

    pts = (
        _event_points(spark, sf_dir)
        .filter(F.col("event_id") < 5000)
        .select(
            "event_id",
            "lon",
            "lat",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        )
    )
    return temporal.knox_counts(
        pts, eps=_KNOX_EPS, tau_us=_KNOX_TAU_US,
        x_col="lon", y_col="lat", t_col="t_us", id_col="event_id",
    )


Q146_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
p AS (
  SELECT event_id AS id, lon, lat, epoch_us(ts::TIMESTAMP) AS t
  FROM pts WHERE event_id < 5000
), pairs AS (
  SELECT CASE WHEN (a.lon - b.lon) * (a.lon - b.lon)
                   + (a.lat - b.lat) * (a.lat - b.lat) <= {_KNOX_EPS * _KNOX_EPS!r}
              THEN 1 ELSE 0 END AS sp,
         CASE WHEN abs(a.t - b.t) <= {_KNOX_TAU_US} THEN 1 ELSE 0 END AS tp
  FROM p a JOIN p b ON a.id < b.id
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_points,
       (SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) FROM p) AS n_pairs,
       CAST(coalesce(sum(sp), 0) AS BIGINT) AS n_space,
       CAST(coalesce(sum(tp), 0) AS BIGINT) AS n_time,
       CAST(coalesce(sum(sp * tp), 0) AS BIGINT) AS n_both
FROM pairs
"""


def q149_interval_coverage(spark, sf_dir):
    """Per-supplier sweep-line interval aggregate over shipping windows
    [ship_day, ship_day + 1 + quantity % 20): union length (days with
    at least one parcel in transit), peak concurrency, and the first
    day the peak is reached. The +1/-1 event sweep with per-instant
    delta aggregation — all int64."""
    from pda_spark.operators import temporal

    li = _t(spark, sf_dir, "lineitem")
    day = F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date"))
    iv = li.select(
        F.col("l_suppkey").alias("k"),
        day.alias("s"),
        (day + F.lit(1) + F.pmod(F.col("l_quantity").cast("long"), F.lit(20))).alias("e"),
    )
    return temporal.interval_coverage(iv, "k", "s", "e")


Q149_SQL = """
WITH iv AS (
  SELECT l_suppkey AS key,
         datediff('day', DATE '1992-01-01', l_shipdate::DATE) AS s,
         datediff('day', DATE '1992-01-01', l_shipdate::DATE)
           + 1 + CAST(l_quantity AS BIGINT) % 20 AS e
  FROM lineitem
), pts AS (
  SELECT key, s AS t, 1 AS d FROM iv WHERE s < e
  UNION ALL
  SELECT key, e, -1 FROM iv WHERE s < e
), per_t AS (
  SELECT key, t, sum(d) AS d FROM pts GROUP BY 1, 2
), swept AS (
  SELECT key, t,
         sum(d) OVER (PARTITION BY key ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov,
         lead(t) OVER (PARTITION BY key ORDER BY t) AS nxt
  FROM per_t
), agg AS (
  SELECT key, CAST(coalesce(sum(CASE WHEN cov > 0 AND nxt IS NOT NULL
                                     THEN nxt - t ELSE 0 END), 0) AS BIGINT) AS covered_len,
         CAST(max(cov) AS BIGINT) AS max_concurrency
  FROM swept GROUP BY key
)
SELECT a.key, a.covered_len, a.max_concurrency,
       CAST(min(s.t) AS BIGINT) AS peak_at
FROM agg a JOIN swept s ON s.key = a.key AND s.cov = a.max_concurrency
GROUP BY 1, 2, 3
"""


def q150_ols_trend(spark, sf_dir):
    """Per-supplier OLS price trend (slope/intercept of price-cents ~
    ship-day): exact int64 normal-equation sums, one final division
    replayed identically (the q81 libm-order discipline). x is
    pre-centered to days-since-1992 so n*Sxy stays in int64."""
    from pda_spark.operators import temporal

    li = _t(spark, sf_dir, "lineitem")
    return temporal.ols_trend(
        li.select(
            "l_suppkey",
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")).alias("_day"),
            F.floor(F.col("l_extendedprice") * 100).alias("_cents"),
        ),
        "l_suppkey",
        "_day",
        "_cents",
    )


Q150_SQL = """
WITH b AS (
  SELECT l_suppkey AS key,
         CAST(datediff('day', DATE '1992-01-01', l_shipdate::DATE) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), g AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM b GROUP BY key
)
SELECT key, n, CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       round(CASE WHEN n * sxx - sx * sx <> 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END, 6) AS slope,
       round(CASE WHEN n * sxx - sx * sx <> 0
             THEN (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END, 6) AS intercept
FROM g
"""


def q153_ewma(spark, sf_dir):
    """Dyadic-decay EWMA (alpha = 1/2, window 16) of event values per
    user bucket, ordered by event id: every term is a multiple of
    2^-15 with |x| < 2^17, so the float sum is EXACT and
    order-independent — the one decay rate a cross-engine oracle can
    replay bit-for-bit. The SQL twin unrolls the same 16 lag terms."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(50)).alias("k"),
        "event_id",
        F.floor(F.col("value") * 100).alias("x"),
    )
    return timeseries.ewma_dyadic(ev, "k", "event_id", "x", window=16)


def _ewma_sql(window: int = 16) -> str:
    terms = " + ".join(
        f"coalesce(lag(x, {j}) OVER w, 0) / {float(1 << j)!r}" for j in range(window)
    )
    return f"""
WITH b AS (
  SELECT user_id % 50 AS key, event_id AS t,
         CAST(floor(value * 100) AS BIGINT) AS x
  FROM events
)
SELECT key, t, x, {terms} AS ewma
FROM b WINDOW w AS (PARTITION BY key ORDER BY t)
"""


def q154_theil_sen(spark, sf_dir):
    """Theil-Sen robust slope per user bucket (median of pairwise
    slopes) — the magnitude companion to q117 Mann-Kendall. event_id <
    2000 keeps the inherent O(n^2) pair fan-out SF-stable (the q146
    fixture discipline); each slope is one exact division and the
    median runs on the q67-bit-exact percentile path."""
    from pda_spark.operators import temporal

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return temporal.theil_sen_slope(
        ev.select(
            F.pmod(F.col("user_id"), F.lit(20)).alias("k"),
            "event_id",
            F.floor(F.col("value") * 100).alias("cents"),
        ),
        "k",
        "event_id",
        "cents",
    )


Q154_SQL = """
WITH b AS (
  SELECT user_id % 20 AS key, event_id AS x,
         CAST(floor(value * 100) AS BIGINT) AS y
  FROM events WHERE event_id < 2000
), pr AS (
  SELECT p.key, (q.y - p.y) / CAST(q.x - p.x AS DOUBLE) AS s
  FROM b p JOIN b q ON p.key = q.key AND p.x < q.x
), n AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY key
), m AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_pairs,
         quantile_cont(s, 0.5) AS med
  FROM pr GROUP BY key
)
SELECT n.key, n.n, coalesce(m.n_pairs, 0) AS n_pairs, round(m.med, 6) AS slope
FROM n LEFT JOIN m USING (key)
"""


_DTW_L = 8


def q156_dtw(spark, sf_dir):
    """DTW trajectory-distance join (users % 60 == 0, first 8 points
    each, all ordered pairs): integer Manhattan step costs make the DP
    exact int64, and the oracle computes the SAME DP by unrolled
    anti-diagonal CTEs (the q148 unrolled-rounds discipline scaled to
    a 2-D recurrence — never a recursive CTE). Integer coordinates
    come straight from the _event_points generator integers (x100),
    NEVER by casting lon*100 back: the float reconstruction rounds
    differently under Spark's truncating cast vs DuckDB's half-even
    cast."""
    from pda_spark.operators import temporal

    ev = _t(spark, sf_dir, "events").filter(F.pmod(F.col("user_id"), F.lit(60)) == 0)
    ix = F.pmod(F.col("user_id") * 97 + F.col("event_id") * 31, F.lit(4000)) - 2000
    iy = F.pmod(F.col("event_id") * 57 + F.col("user_id") * 13, F.lit(2500)) + 3600
    w = Window.partitionBy("k").orderBy("event_id")
    p = (
        ev.select(F.col("user_id").alias("k"), "event_id", ix.alias("x"), iy.alias("y"))
        .withColumn("_i", F.row_number().over(w))
        .filter(F.col("_i") <= _DTW_L)
    )
    traj = p.groupBy("k").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_i", "x", "y"))), lambda s: s["x"]
        ).alias("xs"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("_i", "x", "y"))), lambda s: s["y"]
        ).alias("ys"),
    )
    keys = traj.select("k")
    pairs = keys.select(F.col("k").alias("key_a")).join(
        keys.select(F.col("k").alias("key_b")), F.col("key_a") < F.col("key_b")
    )
    return temporal.dtw_join(traj, pairs, key_col="k")


def _dtw_sql(L: int = _DTW_L) -> str:
    digs = []
    for s in range(3, 2 * L + 1):
        p0 = (
            f"LEFT JOIN dg{s - 2} p0 ON p0.ka = m.ka AND p0.kb = m.kb"
            f" AND p0.i = m.i - 1 AND p0.j = m.j - 1"
            if s >= 4
            else ""
        )
        p0c = "coalesce(p0.c, 1152921504606846976)" if s >= 4 else "1152921504606846976"
        digs.append(
            f"""dg{s} AS MATERIALIZED (
  SELECT m.ka, m.kb, m.i, m.j,
         m.d + least(coalesce(p1.c, 1152921504606846976),
                     coalesce(p2.c, 1152921504606846976), {p0c}) AS c
  FROM dmat m
  LEFT JOIN dg{s - 1} p1 ON p1.ka = m.ka AND p1.kb = m.kb AND p1.i = m.i - 1 AND p1.j = m.j
  LEFT JOIN dg{s - 1} p2 ON p2.ka = m.ka AND p2.kb = m.kb AND p2.i = m.i AND p2.j = m.j - 1
  {p0}
  WHERE m.i + m.j = {s}
)"""
        )
    cells = " UNION ALL ".join(f"SELECT * FROM dg{s}" for s in range(2, 2 * L + 1))
    return f"""
WITH p0_ AS (
  SELECT user_id AS k,
         (user_id * 97 + event_id * 31) % 4000 - 2000 AS x,
         (event_id * 57 + user_id * 13) % 2500 + 3600 AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS i
  FROM events WHERE user_id % 60 = 0
), p AS MATERIALIZED (SELECT k, i, x, y FROM p0_ WHERE i <= {L}),
lens AS MATERIALIZED (SELECT k, CAST(count(*) AS BIGINT) AS l FROM p GROUP BY k),
prs AS (SELECT a.k AS ka, b.k AS kb FROM lens a JOIN lens b ON a.k < b.k),
dmat AS MATERIALIZED (
  SELECT pr.ka, pr.kb, pa.i AS i, pb.i AS j,
         abs(pa.x - pb.x) + abs(pa.y - pb.y) AS d
  FROM prs pr JOIN p pa ON pa.k = pr.ka JOIN p pb ON pb.k = pr.kb
),
dg2 AS MATERIALIZED (SELECT ka, kb, i, j, d AS c FROM dmat WHERE i + j = 2),
{",".join(digs)},
cells AS ({cells})
SELECT c.ka AS key_a, c.kb AS key_b, la.l AS len_a, lb.l AS len_b,
       CAST(c.c AS BIGINT) AS dtw
FROM cells c
JOIN lens la ON la.k = c.ka
JOIN lens lb ON lb.k = c.kb
WHERE c.i = la.l AND c.j = lb.l
"""


def q157_rolling_median(spark, sf_dir):
    """Exact rolling median (last 5 rows) of event cents per user
    bucket — the robust smoother on the q67 exact-percentile path;
    DuckDB's windowed quantile_cont replays the bounded-frame
    interpolation bit-for-bit."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(50)).alias("k"),
        "event_id",
        F.floor(F.col("value") * 100).alias("xv"),
    )
    return timeseries.rolling_median(ev, "k", "event_id", "xv", window=5)


Q157_SQL = """
WITH b AS (
  SELECT user_id % 50 AS key, event_id AS t,
         CAST(floor(value * 100) AS BIGINT) AS x
  FROM events
)
SELECT key, t, x,
       round(quantile_cont(x, 0.5) OVER (
         PARTITION BY key ORDER BY t
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS roll_med
FROM b
"""


def q158_scd2(spark, sf_dir):
    """SCD type-2 interval build over each user's event_type change
    log: consecutive equal types collapse into versions with
    [valid_from_us, valid_to_us) validity (epoch micros, q84 rule),
    version numbers and an is_current flag — the warehouse
    dimension-history op."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return timeseries.scd2_intervals(ev, "user_id", "ts", ["event_type"], "event_id")


Q158_SQL = """
WITH b AS (
  SELECT user_id AS key, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT key, ts, event_type, chg,
         sum(chg) OVER (PARTITION BY key ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
  FROM b
), v AS (
  SELECT key, ver, min(epoch_us(ts::TIMESTAMP)) AS valid_from_us,
         any_value(event_type) AS event_type,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM s GROUP BY 1, 2
)
SELECT key, CAST(ver AS BIGINT) AS version, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY key ORDER BY ver) AS valid_to_us,
       event_type, n_rows,
       (lead(valid_from_us) OVER (PARTITION BY key ORDER BY ver) IS NULL) AS is_current
FROM v
"""


def q161_time_weighted_avg(spark, sf_dir):
    """Per-user-bucket time-weighted average of event cents (step
    function, right-open): exact int64 num/den + one final division.
    The (t, x) window tiebreak keeps same-instant samples
    deterministic in both engines."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(50)).alias("k"),
        "ts",
        F.floor(F.col("value") * 100).alias("cents"),
    )
    return timeseries.time_weighted_avg(ev, "k", "ts", "cents")


Q161_SQL = """
WITH b AS (
  SELECT user_id % 50 AS key, epoch_us(ts::TIMESTAMP) AS t,
         CAST(floor(value * 100) AS BIGINT) AS x
  FROM events
), s AS (
  SELECT key, t, x, lead(t) OVER (PARTITION BY key ORDER BY t, x) AS nxt
  FROM b
), g AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(x * (nxt - t)), 0) AS BIGINT) AS twa_num,
         CAST(max(t) - min(t) AS BIGINT) AS twa_den
  FROM s GROUP BY key
)
SELECT key, n, twa_num, twa_den,
       round(CASE WHEN twa_den > 0
             THEN CAST(twa_num AS DOUBLE) / CAST(twa_den AS DOUBLE) END, 6) AS twa
FROM g
"""


def q162_gaps_islands(spark, sf_dir):
    """Gaps-and-islands over each user's DISTINCT active days (epoch
    day): maximal consecutive runs via the rn-difference trick —
    duplicates collapsed first so a repeated day can't break the
    arithmetic."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
    )
    return timeseries.gaps_islands(ev, "k", "day")


Q162_SQL = """
WITH d AS (
  SELECT DISTINCT user_id AS key,
         CAST(datediff('day', DATE '1970-01-01', ts::DATE) AS BIGINT) AS seq
  FROM events
), g AS (
  SELECT key, seq,
         seq - row_number() OVER (PARTITION BY key ORDER BY seq) AS grp
  FROM d
)
SELECT key, min(seq) AS island_start, max(seq) AS island_end,
       CAST(count(*) AS BIGINT) AS island_len
FROM g GROUP BY key, grp
"""


def q167_comovement(spark, sf_dir):
    """Co-movement (flock/convoy-lite) pairs: users sharing the same
    1-degree cell in >= 2 consecutive day buckets — grid blocking +
    per-(cell, bucket) pair join + the gaps-islands run detection, all
    integer arithmetic."""
    from pda_spark.operators import temporal

    return temporal.comovement_pairs(
        _event_points(spark, sf_dir),
        cell_deg=1.0,
        bucket_us=86_400_000_000,
        min_consecutive=2,
    )


Q167_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
p AS (
  SELECT DISTINCT user_id AS u, CAST(floor(lon / 1.0) AS BIGINT) AS gx,
         CAST(floor(lat / 1.0) AS BIGINT) AS gy,
         epoch_us(ts::TIMESTAMP) // 86400000000 AS b
  FROM pts
), pr AS (
  SELECT DISTINCT a.u AS ua, b.u AS ub, a.b
  FROM p a JOIN p b ON a.gx = b.gx AND a.gy = b.gy AND a.b = b.b AND a.u < b.u
), g AS (
  SELECT ua, ub, b,
         b - row_number() OVER (PARTITION BY ua, ub ORDER BY b) AS grp
  FROM pr
)
SELECT ua AS user_a, ub AS user_b, CAST(min(b) AS BIGINT) AS run_start_bucket,
       CAST(count(*) AS BIGINT) AS run_len
FROM g GROUP BY ua, ub, grp HAVING count(*) >= 2
"""


def q169_interpolate(spark, sf_dir):
    """Linear gap interpolation per user bucket: every 7th event's
    value is knocked out and refilled from its bracketing known
    samples — exact integer numerators, one division, scalar carried
    windows (t and v picked by the same non-null condition so the
    pair is always from one row)."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(50)).alias("k"),
        "event_id",
        F.when(
            F.pmod(F.col("event_id"), F.lit(7)) == 3, F.lit(None).cast("long")
        ).otherwise(F.floor(F.col("value") * 100)).alias("xv"),
    )
    return timeseries.interpolate_gaps(ev, "k", "event_id", "xv")


Q169_SQL = """
WITH b AS (
  SELECT user_id % 50 AS key, event_id AS t,
         CASE WHEN event_id % 7 = 3 THEN NULL
              ELSE CAST(floor(value * 100) AS BIGINT) END AS x
  FROM events
), s AS (
  SELECT key, t, x,
         last_value(CASE WHEN x IS NOT NULL THEN t END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         last_value(CASE WHEN x IS NOT NULL THEN x END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         first_value(CASE WHEN x IS NOT NULL THEN t END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
         first_value(CASE WHEN x IS NOT NULL THEN x END IGNORE NULLS)
           OVER (PARTITION BY key ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM b
)
SELECT key, t, x,
       round(CASE WHEN x IS NOT NULL THEN CAST(x AS DOUBLE)
             WHEN pt IS NOT NULL AND nt IS NOT NULL AND nt <> pt
             THEN CAST(pv AS DOUBLE)
                  + CAST((nv - pv) * (t - pt) AS DOUBLE) / CAST(nt - pt AS DOUBLE)
             END, 6) AS filled
FROM s
"""


def q172_sax(spark, sf_dir):
    """SAX symbolization of event-cent series per user bucket (frame
    4, fixed integer breakpoints, alphabet abcd): per-key PAA means
    (one exact-int sum + one division each) mapped to symbols, joined
    into the per-key SAX word in frame order."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(50)).alias("k"),
        "event_id",
        F.floor(F.col("value") * 100).alias("cents"),
    )
    return timeseries.sax_symbols(
        ev, "k", "event_id", "cents",
        frame=4, breakpoints=(5000.0, 15000.0, 30000.0), alphabet="abcd",
    )


Q172_SQL = """
WITH b AS (
  SELECT user_id % 50 AS key, event_id AS t,
         CAST(floor(value * 100) AS BIGINT) AS x
  FROM events
), r AS (
  SELECT key, x, row_number() OVER (PARTITION BY key ORDER BY t) - 1 AS rn
  FROM b
), f AS (
  SELECT key, rn // 4 AS fr, count(*) AS n, sum(x) AS s FROM r GROUP BY 1, 2
), p AS (
  SELECT key, fr, CAST(s AS DOUBLE) / 4.0 AS paa FROM f WHERE n = 4
), sym AS (
  SELECT key, fr,
         CASE WHEN paa >= 30000.0 THEN 'd' WHEN paa >= 15000.0 THEN 'c'
              WHEN paa >= 5000.0 THEN 'b' ELSE 'a' END AS s
  FROM p
)
SELECT key, CAST(count(*) AS BIGINT) AS n_frames,
       string_agg(s, '' ORDER BY fr) AS word
FROM sym GROUP BY key
"""


def q177_sliding_distinct(spark, sf_dir):
    """Distinct event types per user over the last 10 events — the
    sliding-uniqueness window (count(DISTINCT) OVER exists in no
    mainstream engine; the bounded frame's list dedup is exact and
    order-free because only the count escapes)."""
    from pda_spark.operators import timeseries

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"), "event_id", "event_type"
    )
    return timeseries.sliding_distinct_count(ev, "u", "event_id", "event_type", window=10)


Q177_SQL = """
SELECT user_id AS key, event_id AS t,
       CAST(len(list_distinct(list(event_type) OVER (
         PARTITION BY user_id ORDER BY event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS BIGINT) AS n_distinct
FROM events
"""
