"""Driver-contract query registry: (spark, sf_dir) -> DataFrame plus ANSI
DuckDB oracle SQL for every SQL-expressible query.

Conventions:
- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver hash-compares values after sorting columns by
  name);
- float columns that reach the output are rounded to 6 (or 2 for money
  sums) decimals in BOTH engines; intermediate comparisons use raw
  doubles, which are bit-identical because both engines execute the same
  IEEE754 op sequence on the same integer-derived inputs;
- geometry for the geo queries is derived deterministically from table
  columns by integer arithmetic, so DuckDB can verify spatial joins as
  pure range predicates while Spark runs the real WKB/cell-index path.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pda_spark.functions import dedup, geo_udfs, graph, similarity, sketch, text
from pda_spark.geo import wkb as W
from pda_spark.operators import spatial_join


@pandas_udf(T.BinaryType())
def _mk_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(W.points_vec(lon.to_numpy(), lat.to_numpy()))


@pandas_udf(T.BinaryType())
def _mk_box(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
    return pd.Series([W.box(a, b, c, d) for a, b, c, d in zip(minx, miny, maxx, maxy)])


@pandas_udf(T.BinaryType())
def _mk_segment(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
    """Two-point LineString WKB (road segments for the line x line join)."""
    import numpy as np

    return pd.Series(
        [W.linestring(np.array([[a, b], [c, d]])) for a, b, c, d in zip(x0, y0, x1, y1)]
    )


@pandas_udf(T.BinaryType())
def _mk_staircase(ax: pd.Series, ay: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    """Axis-aligned 3-segment river centerline H-V-H:
    (ax,ay) -> (ax+w,ay) -> (ax+w,ay+h) -> (ax+2w,ay+h). LineString WKB,
    mirroring the reference's river/lake centerlines
    (/root/reference/api_importer/clients/geojson_xyz.py:59-70)."""
    import numpy as np

    return pd.Series(
        [
            W.linestring(np.array([[a, b], [a + ww, b], [a + ww, b + hh], [a + 2 * ww, b + hh]]))
            for a, b, ww, hh in zip(ax, ay, w, h)
        ]
    )

# --------------------------------------------------------------- helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# deterministic point derivation from events (see module docstring)
def _event_points(spark, sf_dir) -> DataFrame:
    # No plan-level repartition: spark.sql.files.minPartitionNum (set in
    # session.get_spark) splits even one small parquet file across cores
    # at the scan, so the plan carries no Exchange the 100 TB story would
    # have to explain away.
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn(
        "lon", F.pmod(F.col("user_id") * 97 + F.col("event_id") * 31, F.lit(4000)) / 100.0 - 20.0
    ).withColumn(
        "lat", F.pmod(F.col("event_id") * 57 + F.col("user_id") * 13, F.lit(2500)) / 100.0 + 36.0
    )


_EVENT_POINTS_SQL = """
    SELECT *,
           ((user_id * 97 + event_id * 31) % 4000) / 100.0 - 20.0 AS lon,
           ((event_id * 57 + user_id * 13) % 2500) / 100.0 + 36.0 AS lat
    FROM events
"""

# five literal test boxes (bounds at .005 so no derived point sits on a
# boundary: derived lon/lat are exact multiples of 0.01)
BOXES = [
    (0, -15.005, 38.005, -5.005, 48.005),
    (1, -5.005, 40.005, 5.005, 52.005),
    (2, 2.005, 44.005, 12.005, 58.005),
    (3, 8.005, 36.505, 18.005, 50.505),
    (4, 12.005, 42.005, 19.505, 60.505),
]

# five kNN query points (offsets avoid symmetric distance ties)
KNN_QUERIES = [
    (0, -10.0015, 45.0015),
    (1, 0.0015, 50.0015),
    (2, 10.0015, 42.0015),
    (3, 15.0015, 55.0015),
    (4, -5.0015, 58.0015),
]


# ============================================================ relational


def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy agg (SURVEY A1/A10; filter pushdown P4)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_filter_orders(spark, sf_dir):
    """Predicates P2/P3/P4/P5 + projection P1."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_orderdate").between(F.lit("1995-01-01"), F.lit("1996-12-31"))
        & (F.col("o_totalprice") <= 150000.0)
    ).select("o_orderkey", "o_orderstatus", "o_orderdate", F.round("o_totalprice", 2).alias("price"))


Q02_SQL = """
SELECT o_orderkey, o_orderstatus, o_orderdate, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
  AND o_totalprice <= 150000.0
"""


def q03_join_agg(spark, sf_dir):
    """Broadcast FK equi-join J1 + hash agg A1."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


Q03_SQL = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q04_semi_join(spark, sf_dir):
    """Left-semi join J5 (IN-subquery shape)."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


Q04_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
"""


def q05_topk_window(spark, sf_dir):
    """Window top-k (SURVEY §2.5; row_number + deterministic tie-break)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rnk")
    )


Q05_SQL = """
SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS price, rnk
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rnk <= 3
"""


def q06_distinct_sort(spark, sf_dir):
    """DISTINCT + ORDER BY (A4/O1 — reference distinct satellite names)."""
    return _t(spark, sf_dir, "orders").select("o_orderpriority").distinct().orderBy("o_orderpriority")


Q06_SQL = "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"


def q07_gap_fill(spark, sf_dir):
    """Time bucketing + gap-filling left join (J9/F13, reference maps.py:56-68)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = ev.agg(F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi"))
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    return days.join(daily, on="day", how="left").select(
        "day", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )


Q07_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events FROM events GROUP BY 1
), days AS (
  SELECT unnest(generate_series(CAST((SELECT min(ts) FROM events) AS DATE),
                                CAST((SELECT max(ts) FROM events) AS DATE),
                                INTERVAL 1 DAY))::DATE AS day
)
SELECT days.day AS day, coalesce(daily.n_events, 0) AS n_events
FROM days LEFT JOIN daily ON days.day = daily.day
"""


def q08_union_dedup(spark, sf_dir):
    """unionByName + dropDuplicates (U1 + S4)."""
    p = _t(spark, sf_dir, "part")
    a = p.filter(F.col("p_size") <= 20).select("p_partkey", "p_brand", "p_size")
    b = p.filter(F.col("p_size") >= 15).select("p_partkey", "p_brand", "p_size")
    return a.unionByName(b).dropDuplicates(["p_partkey"])


Q08_SQL = """
SELECT p_partkey, p_brand, p_size FROM part WHERE p_size <= 20
UNION
SELECT p_partkey, p_brand, p_size FROM part WHERE p_size >= 15
"""


def q80_set_ops(spark, sf_dir):
    """INTERSECT + EXCEPT (U2 — the one §2 row the reference itself
    never exercises, closed for API completeness): parts present in BOTH
    size bands minus a brand exclusion, via DataFrame intersect/
    exceptAll mapped to the identical ANSI set operators. intersect is
    set-semantics (dedup) in both engines; exceptAll keeps
    multiplicities — the fixture is keyed so both are deterministic."""
    p = _t(spark, sf_dir, "part")
    a = p.filter(F.col("p_size") <= 20).select("p_partkey", "p_brand")
    b = p.filter(F.col("p_size") >= 15).select("p_partkey", "p_brand")
    both = a.intersect(b)
    excl = p.filter(F.col("p_brand") == "Brand#33").select("p_partkey", "p_brand")
    return both.exceptAll(excl)


Q80_SQL = """
(SELECT p_partkey, p_brand FROM part WHERE p_size <= 20
 INTERSECT
 SELECT p_partkey, p_brand FROM part WHERE p_size >= 15)
EXCEPT ALL
SELECT p_partkey, p_brand FROM part WHERE p_brand = 'Brand#33'
"""


def q89_anti_join(spark, sf_dir):
    """Explicit left-anti join gate (the J-family's NOT EXISTS face —
    the complement of q04's semi join): customers with no open-status
    orders, count per market segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    inactive = c.join(o.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey", how="left_anti")
    return inactive.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_inactive"))


Q89_SQL = """
SELECT c_mktsegment, count(*) AS n_inactive
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
GROUP BY 1
"""


def q90_union_by_name(spark, sf_dir):
    """unionByName(allowMissingColumns=True) — schema-evolution union
    (late columns null-filled), the shape incremental ingests hit when a
    source adds a field mid-stream."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") < 1000).select("o_orderkey", "o_totalprice")
    new = o.filter(F.col("o_orderkey") >= 59000).select(
        "o_orderkey", "o_totalprice", F.col("o_orderpriority").alias("priority")
    )
    u = old.unionByName(new, allowMissingColumns=True)
    return u.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("price_cents"),
        "priority",
    )


Q90_SQL = """
SELECT o_orderkey, CAST(floor(o_totalprice * 100.0) AS BIGINT) AS price_cents,
       NULL AS priority
FROM orders WHERE o_orderkey < 1000
UNION ALL BY NAME
SELECT o_orderkey, CAST(floor(o_totalprice * 100.0) AS BIGINT) AS price_cents,
       o_orderpriority AS priority
FROM orders WHERE o_orderkey >= 59000
"""


def q09_scalar_funcs(spark, sf_dir):
    """Scalar functions F10/F11/F12: casefold/initcap-style, date_format,
    floor-cast, arithmetic round."""
    o = _t(spark, sf_dir, "orders")
    pr = F.lower(F.col("o_orderpriority"))
    return o.select(
        "o_orderkey",
        (F.concat(F.upper(F.substring(pr, 1, 1)), F.substring(pr, 2, 100))).alias("priority_title"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        # floor of the shared double is bit-deterministic in both engines;
        # round() at a half-way boundary is not (Spark HALF_UP on binary
        # doubles vs DuckDB) — so the derived money column is in cents
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("price_cents"),
    )


Q09_SQL = """
SELECT o_orderkey,
       upper(substring(lower(o_orderpriority), 1, 1)) || substring(lower(o_orderpriority), 2) AS priority_title,
       strftime(o_orderdate, '%Y-%m') AS month,
       CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
       CAST(floor(o_totalprice * 100.0) AS BIGINT) AS price_cents
FROM orders
"""


def q10_json_extract(spark, sf_dir):
    """JSON field extraction F14 + agg."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    # avg is emitted as floor(sum*1e6/n): integer inputs -> the same IEEE754
    # double divide + floor in both engines (round(avg,6) is NOT portable —
    # Spark HALF_UP vs DuckDB at half-way doubles; see CLAUDE.md).
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
        .withColumn(
            "avg_k_micro",
            F.floor(F.col("sum_k").cast("double") * 1000000.0 / F.col("n")).cast("long"),
        )
    )


Q10_SQL = """
SELECT event_type, count(*) AS n,
       -- CAST the sum itself: DuckDB sum(BIGINT) yields HUGEINT, which
       -- pandas (the driver canonicalizer) coerces to float64 and then
       -- hashes 5.0 against Spark's 5 (CORRECTNESS_r02 root cause).
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(floor(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) * 1000000.0
                  / count(*)) AS BIGINT) AS avg_k_micro
FROM events GROUP BY event_type
"""


def q11_collect_set(spark, sf_dir):
    """Sorted collect_set per group (A5 — the land-cover list pattern)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    # array columns break the driver's hash canonicalizer (unhashable
    # list) — emit the sorted set as one joined string in both engines.
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias("segments"))
    )


Q11_SQL = """
SELECT n_name, array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q12_rollup(spark, sf_dir):
    """ROLLUP grouping sets (A13)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n_customers"))


Q12_SQL = """
SELECT r_name, n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q97_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery (P6/J6 driver gate — previously
    pytest-only): orders above their OWN customer's average order value.
    Spark expresses the correlation as a per-customer aggregate joined
    back (what Catalyst de-correlates such subqueries into anyway); the
    oracle keeps the textbook correlated form. Money handled as exact
    integer cents; the per-customer mean is ONE double division
    identical in both engines."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "cents", F.floor(F.col("o_totalprice") * 100.0).cast("long")
    )
    per_cust = o.groupBy("o_custkey").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("avg_cents")
    )
    return (
        o.join(per_cust, "o_custkey")
        .filter(F.col("cents").cast("double") > F.col("avg_cents"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.max("cents").cast("long").alias("max_cents"),
        )
    )


Q97_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, count(*) AS n_above, CAST(max(cents) AS BIGINT) AS max_cents
FROM o a
WHERE CAST(cents AS DOUBLE) > (
  SELECT CAST(sum(b.cents) AS DOUBLE) / count(*) FROM o b
  WHERE b.o_custkey = a.o_custkey
)
GROUP BY o_custkey
"""


def q91_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond q12's rollup lattice): two
    independent one-dimension aggregates + the grand total in one pass,
    with grouping_id disambiguating the null-vs-missing dimension —
    expressed through spark.sql so the S10 SQL surface is exercised
    end-to-end."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_q91_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        FROM _q91_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


Q91_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q92_date_arith(spark, sf_dir):
    """Date arithmetic surface (F10-F13 widening): add_months, datediff
    vs a fixed epoch, quarter/dayofweek extraction, last_day — all
    calendar-exact integers (no timezone or float hazards)."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(13)) == 0)
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).alias("plus3m"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long").alias("days_since_92"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.last_day("o_orderdate").alias("month_end"),
    )


Q92_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
       CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS days_since_92,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
       last_day(o_orderdate) AS month_end
FROM orders WHERE o_orderkey % 13 = 0
"""


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


# ===================================================== text / documents


def q20_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_tokens_bpe", "punct_ratio", "mean_token_len", "quality_ok"
    )


Q20_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(string_split_regex(trim(text), '[\s[:punct:]]+')) AS n_tokens_bpe,
       round((length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]-]', '', 'g'))) / greatest(length(text), 1), 6) AS punct_ratio,
       round(length(text) / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS mean_token_len,
       (len(string_split_regex(trim(text), '\s+')) >= 5
        AND round((length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]-]', '', 'g'))) / greatest(length(text), 1), 6) <= 0.3
        AND round(length(text) / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) BETWEEN 2.0 AND 15.0) AS quality_ok
FROM documents
"""


def q21_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text.lang_id(docs).select("doc_id", "lang", "lang_pred")


def _lang_id_sql() -> str:
    scores = {
        lang: rf"len(regexp_extract_all(lower(text), '\b({'|'.join(words)})\b'))"
        for lang, words in text.LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(f"WHEN {scores[lang]} = best THEN '{lang}'" for lang in text.LANG_STOPWORDS)
    return f"""
SELECT doc_id, lang,
       CASE WHEN best <= 0 THEN 'und' {cases} END AS lang_pred
FROM (SELECT doc_id, lang, text, {best} AS best FROM documents)
"""


def q23_fingerprint_groups(spark, sf_dir):
    """Document fingerprinting: md5 over normalized text, group sizes."""
    docs = _t(spark, sf_dir, "documents")
    # doc_ids sorted numerically, then joined to a string (array columns
    # break the driver's hash canonicalizer).
    return (
        docs.withColumn("fp", text.fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)), x -> cast(x as string)), ',')"
            ).alias("doc_ids"),
        )
    )


Q23_SQL = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM documents GROUP BY 1
"""


def q24_dedup_counts(spark, sf_dir):
    """Exact-dedup statistics per lang: rows vs distinct fingerprints."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", text.fingerprint(F.col("text")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.countDistinct("fp").alias("n_unique"))
    )


Q24_SQL = r"""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique
FROM documents GROUP BY lang
"""


_JACCARD_LIMIT = 150
_JACCARD_K = 5
_JACCARD_T = 0.1


def q25_ngram_jaccard(spark, sf_dir):
    # max_doc_freq exercises the scale-path DF cap without binding at the
    # gate scales (max shingle df is 129 over these 150 docs), so the
    # uncapped DuckDB oracle still matches exactly; the binding case is
    # unit-tested in tests/test_pipeline_ops.py
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", k=_JACCARD_K, threshold=_JACCARD_T, max_doc_freq=_JACCARD_LIMIT
    )


Q25_SQL = rf"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < {_JACCARD_LIMIT}
), sh AS (
  SELECT doc_id, unnest(list_distinct([substring(t, i, {_JACCARD_K})
         for i in range(1, greatest(length(t) - {_JACCARD_K - 1}, 1) + 1)])) AS s
  FROM norm
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= {_JACCARD_T}
"""

_CDC_W = 8


def q29_cdc_chunks(spark, sf_dir):
    """Rolling-hash content-defined chunking (document fingerprinting for
    partial-duplicate detection) — pure Catalyst; the oracle replays the
    same hash-gated cut rule with DuckDB list comprehensions."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.cdc_chunk_fingerprints(docs, "doc_id", window=_CDC_W)


Q29_SQL = rf"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < 200
), b AS (
  SELECT doc_id, t,
         [1] || [i for i in range(2, greatest(length(t) - {_CDC_W - 1}, 1) + 1)
                 if substring(md5(substring(t, i, {_CDC_W})), 1, 2) = '00']
             || [length(t) + 1] AS bp
  FROM n
), c AS (
  SELECT doc_id,
         unnest([j - 1 for j in range(1, len(bp))]) AS chunk_no,
         unnest([substring(t, bp[j], bp[j + 1] - bp[j]) for j in range(1, len(bp))]) AS chunk
  FROM b
)
SELECT doc_id, chunk_no, md5(chunk) AS chunk_fp, length(chunk) AS chunk_len
FROM c WHERE length(chunk) > 0
"""


_MINHASH_N = 4


def q26_minhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.minhash_signatures(docs, "doc_id", k=_JACCARD_K, n_hashes=_MINHASH_N)


def _minhash_sql(src: str | None = None) -> str:
    """DuckDB minhash-signature fragment; ``src`` overrides the FROM
    clause (must expose doc_id, text) so pipeline oracles (q56) can
    compute signatures over an intermediate CTE instead of the table."""
    if src is None:
        src = f"documents WHERE doc_id < {_JACCARD_LIMIT}"
    coeffs = dedup.minhash_coeffs(_MINHASH_N, seed=42)
    mins = ", ".join(
        f"min((({a % 4096} * h + {b % (1 << 50)}) % {dedup.MINHASH_PRIME})) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    return rf"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM {src}
), sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substring(md5(unnest([substring(t, i, {_JACCARD_K})
              for i in range(1, greatest(length(t) - {_JACCARD_K - 1}, 1) + 1)])), 1, 12))::BIGINT AS h
  FROM norm
)
SELECT doc_id, {mins} FROM sh GROUP BY doc_id
"""


_SIMHASH_BITS = 16


def q27_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.simhash(docs, "doc_id", n_bits=_SIMHASH_BITS)


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}" for j in range(_SIMHASH_BITS)
    )
    sig = " + ".join(f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS))
    return rf"""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(string_split_regex(lower(trim(text)), '\s+'))), 1, 12))::BIGINT AS h
  FROM documents WHERE doc_id < {_JACCARD_LIMIT}
), sums AS (
  SELECT doc_id, {sums} FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums
"""


def q28_media_features(spark, sf_dir):
    """Multimodal plumbing through the gate: binary payload column ->
    mapInPandas feature extraction (deterministic fake decode — no image
    codecs in this env, multimodal.py:48-62). Only exact-integer features
    (byte size, 63-bit average-hash) reach the gate; float pixel stats
    stay pytest-pinned."""
    from pda_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(8).alias("width"), F.lit(8).alias("height"), F.lit("x-fake/image").alias("mime")
        ).alias("meta"),
    )
    feats = multimodal.extract_image_features(media)
    return feats.select("media_id", "n_bytes", "phash")


# DuckDB twin of fake_decode_image + average-hash: px = the 64 bytes of
# sha256(text||'#0') || sha256(text||'#1'), bit i of phash = px[i] > mean
def _media_sql() -> str:
    return """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         sha256(text || '#0') || sha256(text || '#1') AS hx
  FROM documents WHERE doc_id < 100
), px AS (
  SELECT media_id, n_bytes,
         [('0x' || substring(hx, 2*i - 1, 2))::BIGINT for i in range(1, 65)] AS p
  FROM m
), stats AS (
  SELECT media_id, n_bytes, p, list_sum(p) / 64.0 AS mean_px FROM px
)
SELECT media_id, n_bytes,
       CAST(list_sum([CASE WHEN p[i] > mean_px THEN 1 << (i - 1) ELSE 0 END
                      for i in range(1, 64)]) AS BIGINT) AS phash
FROM stats
"""


# ======================================================== similarity


def q30_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity.cosine_topk(emb, queries, k=5)


Q30_SQL = """
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_embedding FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.q_id, e.vec_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.q_embedding::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.q_embedding::DOUBLE[], q.q_embedding::DOUBLE[]))), 6) AS cosine
  FROM embeddings e CROSS JOIN queries q
)
SELECT q_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q31_lsh_ann(spark, sf_dir):
    """Approximate ANN (LSH bucket join + exact cosine refine). The
    hyperplanes are seeded driver literals, so bucket assignment and the
    refine are deterministic IEEE754 sequences DuckDB reproduces exactly —
    the oracle replays the same planes as literal arrays."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity.lsh_ann_topk(emb, queries, k=5, n_planes=6, dim=64, probe_radius=2)


def _lsh_ann_sql(
    k: int = 5, n_planes: int = 6, dim: int = 64, seed: int = 42, probe_radius: int = 2
) -> str:
    planes = similarity.hyperplanes(dim, n_planes, seed)
    masks = similarity.probe_masks(n_planes, probe_radius)

    def bucket(vec: str) -> str:
        bits = []
        for i, p in enumerate(planes):
            arr = "[" + ", ".join(repr(x) for x in p) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product({vec}::DOUBLE[], {arr}) > 0 THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(bits) + ")"

    return f"""
WITH v AS (
  SELECT vec_id, embedding, {bucket('embedding')} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS q_id, embedding AS q_embedding,
         xor(home, unnest({list(masks)})) AS bucket
  FROM (SELECT vec_id, embedding, {bucket('embedding')} AS home
        FROM embeddings WHERE vec_id < 5)
), scored AS (
  SELECT q.q_id, v.vec_id,
         round(list_dot_product(v.embedding::DOUBLE[], q.q_embedding::DOUBLE[])
               / (sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.q_embedding::DOUBLE[], q.q_embedding::DOUBLE[]))), 6) AS cosine
  FROM v JOIN q ON v.bucket = q.bucket
)
SELECT q_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


_IVF_N_CENTROIDS = 16
_IVF_N_PROBE = 2


_IVF_PINNED = os.path.join(os.path.dirname(__file__), "ivf_centroids_sf001.json")


def _ivf_cents() -> list[list[float]]:
    """Deterministic centroid list shared by the Spark plan AND the
    DuckDB oracle as literals — the output of the distributed spherical
    Lloyd fit (similarity.kmeans_fit, VERDICT r5 #7), pinned to
    ivf_centroids_sf001.json by scripts/fit_ivf_centroids.py over the
    fixed sf0.01 snapshot (at 100 TB, centroid training is its own
    batch job whose small result ships to every query as a
    literal/broadcast — the pinned file IS that job's output). The fit
    is bit-deterministic (integer-scaled partial sums), and a pytest
    re-runs it against the pinned file. Measured on the 10-query recall
    suite at n_probe=2: fitted 0.90 vs lowest-id seeds 0.96 vs
    seeded-gaussian 0.36 — near-random synthetic embeddings don't
    reward the fit on recall, but cluster-size balance (the 100 TB scan
    cost) tightens from max/mean 1.34 to 1.22, which is what an IVF
    fit buys at scale."""
    if not hasattr(_ivf_cents, "_cache"):
        import json
        from importlib import resources

        # importlib.resources (not os.path on __file__) so the pinned
        # file also loads from the --py-files zip archive the
        # spark-submit path ships (zipimport-safe). No silent fallback
        # (ADVICE r2): a missing pinned fit is an error, exactly like a
        # missing k-means output in production.
        ref = resources.files("pda_spark.plans").joinpath("ivf_centroids_sf001.json")
        try:
            payload = json.loads(ref.read_text())
        except (FileNotFoundError, OSError) as exc:
            raise FileNotFoundError(
                f"pinned IVF centroid fit missing: {ref} "
                "(regenerate with scripts/fit_ivf_centroids.py)"
            ) from exc
        assert len(payload["centroids"]) == _IVF_N_CENTROIDS
        _ivf_cents._cache = [[float(x) for x in c] for c in payload["centroids"]]
    return _ivf_cents._cache


def q33_ivf_ann(spark, sf_dir):
    """IVF approximate ANN (coarse-quantize to nearest centroid, probe
    n_probe lists, exact cosine refine). Centroids ride as literals in
    both engines (see _ivf_cents), so the DuckDB twin replays the
    identical assignment + probe + refine."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity.ivf_topk(emb, queries, k=5, centroids=_ivf_cents(), n_probe=_IVF_N_PROBE)


def _ivf_sql(k: int = 5) -> str:
    import math

    cents = _ivf_cents()
    norms = [repr(math.sqrt(sum(x * x for x in c))) for c in cents]

    def lit(c):
        return "[" + ", ".join(repr(x) for x in c) + "]"

    score = lambda vec, c, n: f"(list_dot_product({vec}::DOUBLE[], {lit(c)}) / {n})"
    scores_v = "[" + ", ".join(score("embedding", c, n) for c, n in zip(cents, norms)) + "]"
    probes = "[" + ", ".join(
        f"({score('embedding', c, n)}, {i + 1})" for i, (c, n) in enumerate(zip(cents, norms))
    ) + "]"
    return f"""
WITH v AS (
  SELECT vec_id, embedding, list_position(sc, list_max(sc)) AS cid
  FROM (SELECT vec_id, embedding, {scores_v} AS sc FROM embeddings)
), q AS (
  SELECT vec_id AS q_id, embedding AS q_embedding,
         unnest([x[2] for x in list_slice(list_sort({probes}, 'DESC'), 1, {_IVF_N_PROBE})]) AS cid
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.q_id, v.vec_id,
         round(list_dot_product(v.embedding::DOUBLE[], q.q_embedding::DOUBLE[])
               / (sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.q_embedding::DOUBLE[], q.q_embedding::DOUBLE[]))), 6) AS cosine
  FROM v JOIN q ON v.cid = q.cid
)
SELECT q_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def q32_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact path — the oracle
    twin; the LSH-bucketed scale path is recall-tested in pytest)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(emb, threshold=0.35)


Q32_SQL = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.35
"""


def q34_lsh_neardup(spark, sf_dir):
    """Embedding near-dup pairs via the LSH-bucketed SCALE path
    (exact=False): candidates restricted to bucket pairs within hamming
    distance 1 of seeded hyperplane signatures, then the exact cosine
    refine. Round-3: the 100 TB path itself is driver-gated (round-2
    VERDICT ask #8) — the planes are deterministic driver literals, so
    the DuckDB twin replays the identical bucket assignment, mask
    explode, and refine (same pattern as q31's _lsh_ann_sql)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(
        emb, threshold=0.35, exact=False, n_planes=8, dim=64, seed=42, probe_radius=1
    )


def _lsh_neardup_sql(
    threshold: float = 0.35, n_planes: int = 8, dim: int = 64, seed: int = 42,
    probe_radius: int = 1,
) -> str:
    planes = similarity.hyperplanes(dim, n_planes, seed)
    masks = similarity.probe_masks(n_planes, probe_radius)

    def bucket(vec: str) -> str:
        bits = []
        for i, p in enumerate(planes):
            arr = "[" + ", ".join(repr(x) for x in p) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product({vec}::DOUBLE[], {arr}) > 0 THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(bits) + ")"

    # mask-explode side a only: a pair within hamming distance r meets on
    # exactly ONE (a-probe = b-home) bucket (m = home_a XOR home_b), so no
    # dedup is needed — mirrors cosine_neardup_pairs(exact=False)
    return f"""
WITH av AS (
  SELECT vec_id AS id_a, embedding AS va, xor(home, unnest({list(masks)})) AS bucket
  FROM (SELECT vec_id, embedding, {bucket('embedding')} AS home FROM embeddings)
), bv AS (
  SELECT vec_id AS id_b, embedding AS vb, {bucket('embedding')} AS bucket FROM embeddings
), pairs AS (
  SELECT id_a, id_b,
         round(list_dot_product(va::DOUBLE[], vb::DOUBLE[])
               / (sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[]))
                  * sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[]))), 6) AS cosine
  FROM av JOIN bv USING (bucket) WHERE id_a < id_b
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {threshold}
"""


# ============================================================== geo


def q40_cell_assign(spark, sf_dir):
    """Tile/cell assignment via the pure-Catalyst cell expression —
    verifies the packed int64 cell arithmetic against plain SQL."""
    pts = _event_points(spark, sf_dir)
    res = 7
    return (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def _cell_sql(res: int, lon: str = "lon", lat: str = "lat") -> str:
    n = 1 << res
    return (
        f"({res}::BIGINT * 288230376151711744 "
        f"+ (least(greatest(floor(({lon} + 180.0) / 360.0 * {n}), 0), {n - 1})::BIGINT << 29) "
        f"+ least(greatest(floor(({lat} + 90.0) / 180.0 * {n}), 0), {n - 1})::BIGINT)"
    )


Q40_SQL = f"""
SELECT {_cell_sql(7)} AS cell, count(*) AS n_points
FROM ({_EVENT_POINTS_SQL})
GROUP BY 1
"""


def q41_pip_join(spark, sf_dir):
    """Point-in-polygon join through the full WKB + cell-index machinery;
    the oracle reduces to range predicates (boxes are axis-aligned)."""
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat"))).select(
        "event_id", "geom", "lon", "lat"
    )
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in BOXES],
        "box_id int, box_geom binary",
    )
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res=7, point_geom="geom", poly_geom="box_geom", lonlat_cols=("lon", "lat")
    )
    return joined.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points"))


Q41_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
boxes(box_id, minx, miny, maxx, maxy) AS (
  VALUES {', '.join(f'({b[0]}, {b[1]}, {b[2]}, {b[3]}, {b[4]})' for b in BOXES)}
)
SELECT box_id, count(*) AS n_points
FROM pts JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY box_id
"""


def q42_knn(spark, sf_dir):
    """kNN via cell-ring expansion + window top-k (north_star operator);
    planar-degree metric so DuckDB can verify exactly."""
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    queries = spark.createDataFrame(
        [(q[0], bytearray(W.point(q[1], q[2]))) for q in KNN_QUERIES],
        "query_id int, qgeom binary",
    )
    # res=8 (was 6): the exactness guard makes results independent of the
    # seed resolution, but candidate volume is not — res-6 cells hold
    # ~16k points each at sf1.0, so ring 2 fanned ~6.4M candidates into
    # the per-query window; res-8 cells cut that 16x for identical output
    # (the retry loop widens the ring at tiny SFs where 25 finer cells
    # hold < k points)
    out = spatial_join.knn_join(
        pts, queries, k=5, res=8, point_geom="geom", query_geom="qgeom",
        query_id="query_id", max_ring=2, metric="degrees", tiebreak="event_id",
        lonlat_cols=("lon", "lat"),
    )
    return out.select(
        "query_id", "event_id", F.round("dist_m", 6).alias("dist"), F.col("knn_rank").alias("rank")
    )


Q42_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
queries(query_id, qlon, qlat) AS (
  VALUES {', '.join(f'({q[0]}, {q[1]}, {q[2]})' for q in KNN_QUERIES)}
), scored AS (
  SELECT query_id, event_id,
         sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)) AS d
  FROM pts CROSS JOIN queries
)
SELECT query_id, event_id, round(d, 6) AS dist, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d ASC, event_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q78_knn_geodesic(spark, sf_dir):
    """Geodesic kNN (J13 driver gate — VERDICT r4 #4): the same
    cell-ring expansion as q42 but with metric='geodesic' (true
    great-circle metres on the authalic sphere, haversine as in
    geo_udfs.haversine_m / spatial_join.py:501-544). Haversine is pure
    libm arithmetic, so the DuckDB oracle replays the identical
    2*R*asin(sqrt(...)) op sequence; distances rounded to 6 (micrometre
    precision — ulp at ~1e6 m is ~1e-10, no boundary risk on fixed
    synthetic coordinates)."""
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    queries = spark.createDataFrame(
        [(q[0], bytearray(W.point(q[1], q[2]))) for q in KNN_QUERIES],
        "query_id int, qgeom binary",
    )
    # res=8 for the same candidate-volume reason as q42 (identical
    # results via the exactness guard); here it also cuts the haversine
    # Arrow stage's input 16x
    out = spatial_join.knn_join(
        pts, queries, k=5, res=8, point_geom="geom", query_geom="qgeom",
        query_id="query_id", max_ring=2, metric="geodesic", tiebreak="event_id",
        lonlat_cols=("lon", "lat"),
    )
    return out.select(
        "query_id", "event_id", F.round("dist_m", 6).alias("dist_m"),
        F.col("knn_rank").alias("rank"),
    )


# authalic-sphere radius (geo/proj.py RQ), full double precision
_RQ_REPR = "6371007.1808835175"

Q78_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
queries(query_id, qlon, qlat) AS (
  VALUES {', '.join(f'({q[0]}, {q[1]}, {q[2]})' for q in KNN_QUERIES)}
), scored AS (
  SELECT query_id, event_id,
         2.0 * CAST({_RQ_REPR} AS DOUBLE) * asin(sqrt(least(greatest(
             pow(sin((radians(lat) - radians(qlat)) / 2.0), 2)
             + cos(radians(qlat)) * cos(radians(lat))
               * pow(sin((radians(lon) - radians(qlon)) / 2.0), 2),
         0.0), 1.0))) AS d
  FROM pts CROSS JOIN queries
)
SELECT query_id, event_id, round(d, 6) AS dist_m, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d ASC, event_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _part_rects(spark, sf_dir) -> DataFrame:
    """Shared deterministic rectangle fixture over the part table
    (p_partkey % 7), used by q43 (shoelace area), q79 (dilation), and
    q82 (erosion) — ONE derivation so the three paired closed-form
    oracles can never drift from the fixture (round-5 review)."""
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(7)) == 0)
    rect = p.select(
        "p_partkey",
        (F.pmod(F.col("p_partkey") * 13, F.lit(3000)) / 100.0 - 15.0).alias("minx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(2000)) / 100.0 + 38.0).alias("miny"),
        (F.col("p_size") / 10.0 + 0.1).alias("w"),
        (F.pmod(F.col("p_partkey"), F.lit(5)) / 10.0 + 0.2).alias("h"),
    )
    return rect.withColumn(
        "geom",
        _mk_box(F.col("minx"), F.col("miny"), F.col("minx") + F.col("w"), F.col("miny") + F.col("h")),
    )


def q43_bbox_area(spark, sf_dir):
    """WKB encode/decode + shoelace area vs plain rectangle arithmetic."""
    return _part_rects(spark, sf_dir).select(
        "p_partkey", F.round(geo_udfs.area_planar(F.col("geom")), 9).alias("area_deg2")
    )


Q43_SQL = """
SELECT p_partkey,
       round((p_size / 10.0 + 0.1) * ((p_partkey % 5) / 10.0 + 0.2), 9) AS area_deg2
FROM part WHERE p_partkey % 7 = 0
"""


def q79_buffer_area(spark, sf_dir):
    """ST_Buffer gate (F5 completion — VERDICT r4 #6): rectangles from
    the q43 fixture offset by d=0.35 in planar coordinates through the
    Minkowski capsule union (kernels.buffer_polys on the scanline
    kernel). For a rectangle the buffered area has the closed form
    w*h + 2d(w+h) + 16*sin(pi/16)*d^2 exactly (the quarter 32-gon corner
    fans align with quadrant boundaries), so DuckDB replays it as pure
    arithmetic; round 4 leaves ~9 orders of magnitude of margin over the
    scanline-vs-closed-form float drift (~1e-13 relative)."""
    d = 0.35
    # post-shuffle spread of the Arrow kernel stage (the q82 pattern):
    # the part scan is one sub-4MB split, so without this the whole
    # capsule-union kernel runs in ONE python worker (9.4 s at sf1.0 in
    # BENCH_r06 — the same single-split cause as q32/q82 in round 6)
    from pda_spark.session import spread

    return spread(_part_rects(spark, sf_dir)).select(
        "p_partkey",
        F.round(geo_udfs.buffer_area_planar(d)(F.col("geom")), 4).alias("buf_area"),
    )


Q79_SQL = """
SELECT p_partkey,
       round((p_size / 10.0 + 0.1) * ((p_partkey % 5) / 10.0 + 0.2)
             + 2 * 0.35 * ((p_size / 10.0 + 0.1) + ((p_partkey % 5) / 10.0 + 0.2))
             + 16 * sin(pi() / 16) * 0.35 * 0.35, 4) AS buf_area
FROM part WHERE p_partkey % 7 = 0
"""


def q82_erosion_area(spark, sf_dir):
    """ST_Buffer with NEGATIVE distance (inward offset / erosion):
    |erode(A,d)| = |A| - |A ∩ boundary-capsules| on the scanline kernel.
    Rectangle erosion has sharp corners, so the closed form
    (w-2d)(h-2d) is EXACT — no arc discretization term at all."""
    d = 0.05
    # post-shuffle spread of the Arrow kernel stage, as in q79: the part
    # scan is one sub-4MB split, so without this the whole erosion kernel
    # runs in ONE python worker (15 s at sf0.1)
    from pda_spark.session import spread

    return spread(_part_rects(spark, sf_dir)).select(
        "p_partkey",
        F.round(geo_udfs.buffer_area_planar(-d)(F.col("geom")), 6).alias("eroded_area"),
    )


Q82_SQL = """
SELECT p_partkey,
       round(((p_size / 10.0 + 0.1) - 0.1) * (((p_partkey % 5) / 10.0 + 0.2) - 0.1), 6)
         AS eroded_area
FROM part WHERE p_partkey % 7 = 0
"""


def q44_tile_zonal(spark, sf_dir):
    """Zonal raster<->vector join: count points per (tile, box) pair —
    tile assignment through the vectorized kernel UDF this time."""
    res = 6
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("tile", geo_udfs.lonlat_cell(res)(F.col("lon"), F.col("lat")))
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat")))
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in BOXES],
        "box_id int, box_geom binary",
    )
    joined = spatial_join.points_in_polygons_join(
        pts.select("event_id", "tile", "geom", "lon", "lat"),
        boxes,
        res=res,
        point_geom="geom",
        poly_geom="box_geom",
        lonlat_cols=("lon", "lat"),
    )
    return joined.groupBy("box_id", "tile").agg(F.count(F.lit(1)).alias("n_points"))


Q44_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
boxes(box_id, minx, miny, maxx, maxy) AS (
  VALUES {', '.join(f'({b[0]}, {b[1]}, {b[2]}, {b[3]}, {b[4]})' for b in BOXES)}
)
SELECT box_id, {_cell_sql(6)} AS tile, count(*) AS n_points
FROM pts JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY 1, 2
"""


def q83_zonal_stats(spark, sf_dir):
    """Zonal STATISTICS (A-family widening of q44's zonal counts): per
    (box, tile), count + exact integer sum of the event measure + mean.
    The measure is floored to integer cents BEFORE aggregation so the
    shuffled partial sums are order-independent and bit-exact in any
    engine; the mean is ONE double division at the end."""
    res = 6
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("tile", geo_udfs.lonlat_cell(res)(F.col("lon"), F.col("lat")))
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat")))
    pts = pts.withColumn("cents", F.floor(F.col("value") * 100.0).cast("long"))
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in BOXES],
        "box_id int, box_geom binary",
    )
    joined = spatial_join.points_in_polygons_join(
        pts.select("event_id", "tile", "cents", "geom", "lon", "lat"),
        boxes,
        res=res,
        point_geom="geom",
        poly_geom="box_geom",
        lonlat_cols=("lon", "lat"),
    )
    return joined.groupBy("box_id", "tile").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.round(F.sum("cents").cast("double") / F.count(F.lit(1)), 6).alias("mean_cents"),
    )


Q83_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
boxes(box_id, minx, miny, maxx, maxy) AS (
  VALUES {', '.join(f'({b[0]}, {b[1]}, {b[2]}, {b[3]}, {b[4]})' for b in BOXES)}
)
SELECT box_id, {_cell_sql(6)} AS tile, count(*) AS n_points,
       CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
       round(CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS DOUBLE) / count(*), 6)
         AS mean_cents
FROM pts JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY 1, 2
"""


def q87_focal_stats(spark, sf_dir):
    """Focal (3x3 neighborhood) statistics over the cell grid — raster
    smoothing via scatter-gather (each donor cell contributes to its 9
    recipients through pure Catalyst bit math, one grouped sum; the raw
    points are aggregated ONCE before any neighborhood work). Mean is a
    single division by the in-bounds window size."""
    from pda_spark.operators import tiling

    res = 6
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = tiling.focal_stats(cnt, res=res)
    return out.select(
        "cell", "focal_sum", "win_cells", F.round("focal_mean", 6).alias("focal_mean")
    )


_N6 = 1 << 6
Q87_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
), sc AS (
  SELECT ix + dx AS rix, iy + dy AS riy, n
  FROM cnt
  CROSS JOIN (VALUES (-1), (0), (1)) AS ox(dx)
  CROSS JOIN (VALUES (-1), (0), (1)) AS oy(dy)
  WHERE ix + dx BETWEEN 0 AND {_N6 - 1} AND iy + dy BETWEEN 0 AND {_N6 - 1}
)
SELECT (6::BIGINT * 288230376151711744 + (rix << 29) + riy) AS cell,
       CAST(sum(n) AS BIGINT) AS focal_sum,
       CAST((least(rix + 1, {_N6 - 1}) - greatest(rix - 1, 0) + 1)
            * (least(riy + 1, {_N6 - 1}) - greatest(riy - 1, 0) + 1) AS BIGINT) AS win_cells,
       round(CAST(sum(n) AS DOUBLE)
             / ((least(rix + 1, {_N6 - 1}) - greatest(rix - 1, 0) + 1)
                * (least(riy + 1, {_N6 - 1}) - greatest(riy - 1, 0) + 1)), 6) AS focal_mean
FROM sc GROUP BY rix, riy
"""


def q94_zorder(spark, sf_dir):
    """Morton / Z-order layout key (the Iceberg write-order story,
    SURVEY §4): event points -> res-8 grid coords -> bit-interleaved
    code, entirely Catalyst bit arithmetic; the oracle replays the
    IDENTICAL magic-mask spread steps (one shared constant table
    generates both sides)."""
    res = 8
    pts = _event_points(spark, sf_dir)
    cell = geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res)
    mask = (1 << 29) - 1
    ix = F.shiftright(cell, 29).bitwiseAND(F.lit(mask))
    iy = cell.bitwiseAND(F.lit(mask))
    return pts.select(
        "event_id", geo_udfs.zorder_expr(ix, iy).alias("zcode")
    )


_N8 = 1 << 8
_Q94_IX = f"least(greatest(floor((lon + 180.0) / 360.0 * {_N8}), 0), {_N8 - 1})::BIGINT"
_Q94_IY = f"least(greatest(floor((lat + 90.0) / 180.0 * {_N8}), 0), {_N8 - 1})::BIGINT"

Q94_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL})
SELECT event_id,
       ({geo_udfs.morton_spread_sql(_Q94_IX)}
        | ({geo_udfs.morton_spread_sql(_Q94_IY)} << 1)) AS zcode
FROM pts
"""


def q45_rect_intersects(spark, sf_dir):
    """Polygon x polygon intersects join through cover/dedup/refine —
    rectangles make the oracle a pure interval-overlap join. Exercises the
    reference-point dedup (no pair may appear twice)."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(37)) == 0)
    img = o.select(
        F.col("o_orderkey").alias("img_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(4000)) / 100.0 - 20.0).alias("ix"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(2200)) / 100.0 + 37.0).alias("iy"),
        (F.pmod(F.col("o_orderkey"), F.lit(10)) / 20.0 + 0.05).alias("ih"),
    )
    img = img.withColumn("geom", _mk_box(F.col("ix") - F.col("ih"), F.col("iy") - F.col("ih"),
                                        F.col("ix") + F.col("ih"), F.col("iy") + F.col("ih")))
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(11)) == 0)
    lc = p.select(
        F.col("p_partkey").alias("lc_id"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(4000)) / 100.0 - 19.9987).alias("cx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(2200)) / 100.0 + 37.0013).alias("cy"),
        (F.pmod(F.col("p_partkey"), F.lit(8)) / 10.0 + 0.2).alias("ch"),
    )
    lc = lc.withColumn("lc_geom", _mk_box(F.col("cx") - F.col("ch"), F.col("cy") - F.col("ch"),
                                         F.col("cx") + F.col("ch"), F.col("cy") + F.col("ch")))
    # both sides are _mk_box axis-aligned rectangles by construction, so
    # the JVM bbox-overlap prefilter IS the exact ST_Intersects answer —
    # refine="bbox-exact" skips the 2.4M-pair Arrow refine leg (round 7)
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"), lc.select("lc_id", "lc_geom"),
        res=6, left_geom="geom", right_geom="lc_geom", refine="bbox-exact",
    )
    return pairs.groupBy("lc_id").agg(F.count(F.lit(1)).alias("n_images"))


def q95_contains_join(spark, sf_dir):
    """ST_Contains / ST_Within over the q45 rect fixture: intersecting
    pairs (same cover/dedup/refine join) flagged with containment in
    BOTH directions through the general polys_contains kernel
    (vertex-interior + no-crossing + hole-swallow tests); the oracle is
    strict interval containment — exact here because the lc fixture's
    .0013 offsets guarantee no img/lc boundary ever coincides."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(37)) == 0)
    img = o.select(
        F.col("o_orderkey").alias("img_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(4000)) / 100.0 - 20.0).alias("ix"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(2200)) / 100.0 + 37.0).alias("iy"),
        (F.pmod(F.col("o_orderkey"), F.lit(10)) / 20.0 + 0.05).alias("ih"),
    )
    img = img.withColumn("geom", _mk_box(F.col("ix") - F.col("ih"), F.col("iy") - F.col("ih"),
                                        F.col("ix") + F.col("ih"), F.col("iy") + F.col("ih")))
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(11)) == 0)
    lc = p.select(
        F.col("p_partkey").alias("lc_id"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(4000)) / 100.0 - 19.9987).alias("cx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(2200)) / 100.0 + 37.0013).alias("cy"),
        (F.pmod(F.col("p_partkey"), F.lit(8)) / 10.0 + 0.2).alias("ch"),
    )
    lc = lc.withColumn("lc_geom", _mk_box(F.col("cx") - F.col("ch"), F.col("cy") - F.col("ch"),
                                         F.col("cx") + F.col("ch"), F.col("cy") + F.col("ch")))
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"), lc.select("lc_id", "lc_geom"),
        res=6, left_geom="geom", right_geom="lc_geom",
    )
    pairs = (
        pairs.select("img_id", "lc_id")
        .join(F.broadcast(img.select("img_id", "geom")), "img_id")
        .join(F.broadcast(lc.select("lc_id", "lc_geom")), "lc_id")
    )
    return pairs.select(
        "img_id", "lc_id",
        geo_udfs.contains_pred(F.col("geom"), F.col("lc_geom")).alias("img_contains_lc"),
        geo_udfs.contains_pred(F.col("lc_geom"), F.col("geom")).alias("lc_contains_img"),
    )


Q95_SQL = """
WITH img AS (
  SELECT o_orderkey AS img_id,
         ((o_orderkey * 7) % 4000) / 100.0 - 20.0 AS ix,
         ((o_orderkey * 11) % 2200) / 100.0 + 37.0 AS iy,
         (o_orderkey % 10) / 20.0 + 0.05 AS ih
  FROM orders WHERE o_orderkey % 37 = 0
), lc AS (
  SELECT p_partkey AS lc_id,
         ((p_partkey * 13) % 4000) / 100.0 - 19.9987 AS cx,
         ((p_partkey * 17) % 2200) / 100.0 + 37.0013 AS cy,
         (p_partkey % 8) / 10.0 + 0.2 AS ch
  FROM part WHERE p_partkey % 11 = 0
)
SELECT img_id, lc_id,
       (ix - ih < cx - ch AND cx + ch < ix + ih AND
        iy - ih < cy - ch AND cy + ch < iy + ih) AS img_contains_lc,
       (cx - ch < ix - ih AND ix + ih < cx + ch AND
        cy - ch < iy - ih AND iy + ih < cy + ch) AS lc_contains_img
FROM img JOIN lc
  ON ix - ih <= cx + ch AND cx - ch <= ix + ih
 AND iy - ih <= cy + ch AND cy - ch <= iy + ih
"""


def q96_intersects_multires(spark, sf_dir):
    """Polygon x polygon intersects with PER-GEOMETRY resolution
    (area-by-area multires — q70's J15 for region x region): BOTH sides
    mix continent-scale (~6-15 deg) and scene-scale (~0.2-1 deg) rects,
    each covering at its own level; one equi-join spans levels via the
    res-prefixed cell id, pairs meet exactly once (coarser side's level,
    SW-reference-point rule) — no dedup shuffle. Oracle: plain interval
    overlap over the same fixture."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(61)) == 0)
    big_a = F.pmod(F.col("o_orderkey"), F.lit(2)) == 0
    a = o.select(
        F.col("o_orderkey").alias("a_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(3000)) / 100.0 - 15.0).alias("cx"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(1800)) / 100.0 + 39.0).alias("cy"),
        F.when(big_a, F.pmod(F.col("o_orderkey"), F.lit(5)) + 3.0)
        .otherwise(F.pmod(F.col("o_orderkey"), F.lit(4)) / 10.0 + 0.1).alias("hh"),
    )
    a = a.withColumn("geom", _mk_box(F.col("cx") - F.col("hh"), F.col("cy") - F.col("hh"),
                                     F.col("cx") + F.col("hh"), F.col("cy") + F.col("hh")))
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(23)) == 0)
    big_b = F.pmod(F.col("p_partkey"), F.lit(2)) == 0
    b = p.select(
        F.col("p_partkey").alias("b_id"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(3000)) / 100.0 - 14.9987).alias("dx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(1800)) / 100.0 + 39.0013).alias("dy"),
        F.when(big_b, F.pmod(F.col("p_partkey"), F.lit(4)) + 2.5)
        .otherwise(F.pmod(F.col("p_partkey"), F.lit(6)) / 10.0 + 0.15).alias("gg"),
    )
    b = b.withColumn("r_geom", _mk_box(F.col("dx") - F.col("gg"), F.col("dy") - F.col("gg"),
                                       F.col("dx") + F.col("gg"), F.col("dy") + F.col("gg")))
    pairs = spatial_join.intersects_join_multires(
        a.select("a_id", "geom"), b.select("b_id", "r_geom"),
        resolutions=(3, 5, 7), left_geom="geom", right_geom="r_geom",
    )
    return pairs.select("a_id", "b_id")


Q96_SQL = """
WITH a AS (
  SELECT o_orderkey AS a_id,
         ((o_orderkey * 7) % 3000) / 100.0 - 15.0 AS cx,
         ((o_orderkey * 11) % 1800) / 100.0 + 39.0 AS cy,
         CASE WHEN o_orderkey % 2 = 0 THEN (o_orderkey % 5) + 3.0
              ELSE (o_orderkey % 4) / 10.0 + 0.1 END AS hh
  FROM orders WHERE o_orderkey % 61 = 0
), b AS (
  SELECT p_partkey AS b_id,
         ((p_partkey * 13) % 3000) / 100.0 - 14.9987 AS dx,
         ((p_partkey * 17) % 1800) / 100.0 + 39.0013 AS dy,
         CASE WHEN p_partkey % 2 = 0 THEN (p_partkey % 4) + 2.5
              ELSE (p_partkey % 6) / 10.0 + 0.15 END AS gg
  FROM part WHERE p_partkey % 23 = 0
)
SELECT a_id, b_id
FROM a JOIN b
  ON cx - hh <= dx + gg AND dx - gg <= cx + hh
 AND cy - hh <= dy + gg AND dy - gg <= cy + hh
"""


def q62_salted_intersects(spark, sf_dir):
    """The q45 polygon x polygon join through the SKEW-SALTED path
    (salt=8: the broadcast side replicates per salt value, the big side
    scatters, so one hot cell splits across 8 tasks) — driver-verifies
    that salting is result-identical, not just pytest-identical. Same
    oracle as q45."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(37)) == 0)
    img = o.select(
        F.col("o_orderkey").alias("img_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(4000)) / 100.0 - 20.0).alias("ix"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(2200)) / 100.0 + 37.0).alias("iy"),
        (F.pmod(F.col("o_orderkey"), F.lit(10)) / 20.0 + 0.05).alias("ih"),
    )
    img = img.withColumn(
        "geom",
        _mk_box(
            F.col("ix") - F.col("ih"),
            F.col("iy") - F.col("ih"),
            F.col("ix") + F.col("ih"),
            F.col("iy") + F.col("ih"),
        ),
    )
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(11)) == 0)
    lc = p.select(
        F.col("p_partkey").alias("lc_id"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(4000)) / 100.0 - 19.9987).alias("cx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(2200)) / 100.0 + 37.0013).alias("cy"),
        (F.pmod(F.col("p_partkey"), F.lit(8)) / 10.0 + 0.2).alias("ch"),
    )
    lc = lc.withColumn(
        "lc_geom",
        _mk_box(
            F.col("cx") - F.col("ch"),
            F.col("cy") - F.col("ch"),
            F.col("cx") + F.col("ch"),
            F.col("cy") + F.col("ch"),
        ),
    )
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"),
        lc.select("lc_id", "lc_geom"),
        res=6,
        left_geom="geom",
        right_geom="lc_geom",
        salt=8,
        # rect-fixture twin of q45: bbox overlap IS ST_Intersects here
        refine="bbox-exact",
    )
    return pairs.groupBy("lc_id").agg(F.count(F.lit(1)).alias("n_images"))


def q76_intersects_right_outer(spark, sf_dir):
    """q45's polygon x polygon join preserving the land-cover side:
    classes intersecting ZERO images are kept with n_images = 0 (the
    dashboard ask the reference drops, now for the J2 polygon join —
    q65's sibling on the intersects path)."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(37)) == 0)
    img = o.select(
        F.col("o_orderkey").alias("img_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(4000)) / 100.0 - 20.0).alias("ix"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(2200)) / 100.0 + 37.0).alias("iy"),
        (F.pmod(F.col("o_orderkey"), F.lit(10)) / 20.0 + 0.05).alias("ih"),
    )
    img = img.withColumn(
        "geom",
        _mk_box(F.col("ix") - F.col("ih"), F.col("iy") - F.col("ih"),
                F.col("ix") + F.col("ih"), F.col("iy") + F.col("ih")),
    )
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(11)) == 0)
    lc = p.select(
        F.col("p_partkey").alias("lc_id"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(4000)) / 100.0 - 19.9987).alias("cx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(2200)) / 100.0 + 37.0013).alias("cy"),
        (F.pmod(F.col("p_partkey"), F.lit(8)) / 10.0 + 0.2).alias("ch"),
    )
    lc = lc.withColumn(
        "lc_geom",
        _mk_box(F.col("cx") - F.col("ch"), F.col("cy") - F.col("ch"),
                F.col("cx") + F.col("ch"), F.col("cy") + F.col("ch")),
    )
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"), lc.select("lc_id", "lc_geom"),
        res=6, left_geom="geom", right_geom="lc_geom",
        how="right", right_id="lc_id",
    )
    return pairs.groupBy("lc_id").agg(F.count("img_id").alias("n_images"))


Q76_SQL = """
WITH img AS (
  SELECT o_orderkey AS img_id,
         ((o_orderkey * 7) % 4000) / 100.0 - 20.0 AS ix,
         ((o_orderkey * 11) % 2200) / 100.0 + 37.0 AS iy,
         (o_orderkey % 10) / 20.0 + 0.05 AS ih
  FROM orders WHERE o_orderkey % 37 = 0
), lc AS (
  SELECT p_partkey AS lc_id,
         ((p_partkey * 13) % 4000) / 100.0 - 19.9987 AS cx,
         ((p_partkey * 17) % 2200) / 100.0 + 37.0013 AS cy,
         (p_partkey % 8) / 10.0 + 0.2 AS ch
  FROM part WHERE p_partkey % 11 = 0
)
SELECT lc_id, count(img_id) AS n_images
FROM lc LEFT JOIN img
  ON ix - ih <= cx + ch AND cx - ch <= ix + ih
 AND iy - ih <= cy + ch AND cy - ch <= iy + ih
GROUP BY lc_id
"""


def q77_heavy_hitters(spark, sf_dir):
    """Exact relative-threshold heavy hitters: corpus tokens whose count
    exceeds 0.2% of ALL tokens (the scalar-subquery-over-aggregate
    shape q60's fixed top-k doesn't cover). ppm is floor-based integer
    arithmetic, portable by construction. Scale path: this IS the exact
    two-aggregate plan a Misra-Gries sketch approximates; the exact form
    stays one map-side-combinable count + a broadcast of one scalar."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    # total is derivable from the per-token counts — summing `cnt`
    # re-reads the tiny aggregate, NOT the corpus (VERDICT r4: the old
    # toks.agg(count(*)) re-executed the whole split+explode scan)
    total = cnt.agg(F.sum("n_tok").alias("_t"))
    return (
        cnt.crossJoin(F.broadcast(total))
        .filter(F.col("n_tok") * 500 > F.col("_t"))  # n/total > 0.002, integer-exact
        .select(
            "tok",
            "n_tok",
            F.floor(F.lit(1_000_000) * F.col("n_tok") / F.col("_t")).cast("long").alias("ppm"),
        )
    )


Q77_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents
), cnt AS (
  SELECT tok, count(*) AS n_tok FROM toks GROUP BY tok
), tot AS (
  SELECT count(*) AS t FROM toks
)
SELECT tok, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(floor(1000000 * n_tok / t) AS BIGINT) AS ppm
FROM cnt, tot WHERE n_tok * 500 > t
"""


Q45_SQL = """
WITH img AS (
  SELECT o_orderkey AS img_id,
         ((o_orderkey * 7) % 4000) / 100.0 - 20.0 AS ix,
         ((o_orderkey * 11) % 2200) / 100.0 + 37.0 AS iy,
         (o_orderkey % 10) / 20.0 + 0.05 AS ih
  FROM orders WHERE o_orderkey % 37 = 0
), lc AS (
  SELECT p_partkey AS lc_id,
         ((p_partkey * 13) % 4000) / 100.0 - 19.9987 AS cx,
         ((p_partkey * 17) % 2200) / 100.0 + 37.0013 AS cy,
         (p_partkey % 8) / 10.0 + 0.2 AS ch
  FROM part WHERE p_partkey % 11 = 0
)
SELECT lc_id, count(*) AS n_images
FROM img JOIN lc
  ON ix - ih <= cx + ch AND cx - ch <= ix + ih
 AND iy - ih <= cy + ch AND cy - ch <= iy + ih
GROUP BY lc_id
"""


def q64_pip_wkb(spark, sf_dir):
    """q41's PIP join with the points entering as WKB ONLY (no
    lonlat_cols fast path): exercises the general point_cell_lonlat
    decode leg — one Arrow struct UDF evaluated ONCE per row
    (asNondeterministic barrier, VERDICT r3) — plus res='auto'
    (cells.choose_res from the polygon bbox sample). Same oracle as
    q41."""
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat"))).select(
        "event_id", "geom"
    )
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in BOXES],
        "box_id int, box_geom binary",
    )
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res="auto", point_geom="geom", poly_geom="box_geom"
    )
    return joined.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points"))


# q65 fixture: the five populated boxes plus two OUTSIDE the derived
# point domain (lon in [-20,20), lat in [36,61)) — right-outer join must
# keep them with a zero count
BOXES_WITH_EMPTY = BOXES + [
    (5, 25.005, 38.005, 35.005, 48.005),   # east of every point
    (6, -15.005, 10.005, -5.005, 20.005),  # south of every point
]


def q65_pip_right_outer(spark, sf_dir):
    """'Count images per city INCLUDING zero-image cities' (the reference
    dashboard shape app/query.py:94-105 silently drops unmatched
    cities): points_in_polygons_join(how='right') keeps polygons with no
    point via an anti-join backfill; count(event_id) then yields 0 for
    them, exactly like the SQL LEFT JOIN oracle."""
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat"))).select(
        "event_id", "geom", "lon", "lat"
    )
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in BOXES_WITH_EMPTY],
        "box_id int, box_geom binary",
    )
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res=7, point_geom="geom", poly_geom="box_geom",
        lonlat_cols=("lon", "lat"), how="right", poly_id="box_id",
    )
    return joined.groupBy("box_id").agg(F.count("event_id").alias("n_points"))


Q65_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
boxes(box_id, minx, miny, maxx, maxy) AS (
  VALUES {', '.join(f'({b[0]}, {b[1]}, {b[2]}, {b[3]}, {b[4]})' for b in BOXES_WITH_EMPTY)}
)
SELECT box_id, count(event_id) AS n_points
FROM boxes LEFT JOIN pts
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY box_id
"""


def q66_pip_left_outer(spark, sf_dir):
    """Left sibling of q65: every POINT kept, box_id null when no box
    contains it (points in overlapping boxes emit one row per box, same
    as SQL LEFT JOIN fan-out). Exercises the anti-join backfill on the
    large side of the join."""
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat"))).select(
        "event_id", "geom", "lon", "lat"
    )
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in BOXES],
        "box_id int, box_geom binary",
    )
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res=7, point_geom="geom", poly_geom="box_geom",
        lonlat_cols=("lon", "lat"), how="left", point_id="event_id",
    )
    return joined.select("event_id", "box_id")


Q66_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
boxes(box_id, minx, miny, maxx, maxy) AS (
  VALUES {', '.join(f'({b[0]}, {b[1]}, {b[2]}, {b[3]}, {b[4]})' for b in BOXES)}
)
SELECT event_id, box_id
FROM pts LEFT JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
"""


def q67_percentiles(spark, sf_dir):
    """Exact linear-interpolated percentiles per group (Spark
    `percentile` == DuckDB `quantile_cont`, probe-verified bit-exact on
    this data: both interpolate at p*(n-1) over the sorted values, and
    the inputs are identical parquet doubles — so the output is emitted
    RAW, no rounding). The 100 TB note: exact percentile sorts per
    group; the scale path is percentile_approx (t-digest, map-side
    combinable), pytest-checked against this exact twin within rank
    error (engines' sketches differ, so the sketch itself is not
    SQL-oracle-matchable)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


Q67_SQL = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def q68_analytic_windows(spark, sf_dir):
    """Analytic-window breadth in one gate: lag/lead (neighbor events
    per user), ntile quartiles and cume_dist over a UNIQUE ordering
    (ties would make both nondeterministic across engines — event_id is
    the total tiebreak; cume_dist = rank/n is a single exact double
    division in both engines)."""
    ev = _t(spark, sf_dir, "events").filter(F.pmod(F.col("user_id"), F.lit(50)) == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
        F.lead("event_id").over(w).alias("next_id"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
    )


Q68_SQL = """
SELECT user_id, event_id,
       lag(event_id) OVER w AS prev_id,
       lead(event_id) OVER w AS next_id,
       ntile(4) OVER w AS quartile,
       cume_dist() OVER w AS cd
FROM events WHERE user_id % 50 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q86_pivot(spark, sf_dir):
    """Pivot (wide heatmap matrix — the reference dashboard's
    time×category grid as columns, app/maps.py heat series): order
    counts per month pivoted on priority with an EXPLICIT value list
    (never values-discovery — that is a whole extra scan + a driver
    collect at 100 TB); absent cells zero-filled to match the oracle's
    conditional counts."""
    o = _t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        o.select(month, "o_orderpriority")
        .groupBy("month")
        .pivot("o_orderpriority", prios)
        .count()
    )
    renames = {p: f"p{i + 1}" for i, p in enumerate(prios)}
    return wide.select(
        "month",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(renames[p]) for p in prios],
    )


Q86_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS p1,
       CAST(count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS p2,
       CAST(count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS p3,
       CAST(count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS p4,
       CAST(count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS p5
FROM orders GROUP BY 1
"""


def q84_range_window(spark, sf_dir):
    """RANGE-frame window (value-based frames — the §2.5 frame kind q68
    doesn't cover): per user, the rolling 1-hour event count and
    integer-cents sum. The frame bound is in epoch MICROSECONDS on both
    engines (Spark unix_micros / DuckDB epoch_us — second-truncation
    would disagree on peers); RANGE includes all ties by SQL standard,
    so the result is deterministic without a unique ordering."""
    ev = _t(spark, sf_dir, "events").filter(F.pmod(F.col("user_id"), F.lit(50)) == 0)
    # parquet ts is TIMESTAMP_NTZ; the session TZ is pinned UTC so the
    # cast is the identity wall-clock mapping DuckDB's epoch_us applies
    ev = ev.withColumn("ets_us", F.unix_micros(F.col("ts").cast("timestamp"))).withColumn(
        "cents", F.floor(F.col("value") * 100.0).cast("long")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ets_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ets_us",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).cast("long").alias("cents_1h"),
    )


Q84_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ets_us,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
FROM events WHERE user_id % 50 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q85_convex_hull(spark, sf_dir):
    """ST_ConvexHull as a grouped UDAF (monotone chain kernel): per
    group, 12 rim points on an ellipse (angles 2πk/12) plus interior
    points at radius factor ≤ 0.5 — the hull must keep EXACTLY the 12
    rim vertices (discrete, robust to 1-ulp coordinate drift), and its
    shoelace area equals the inscribed-12-gon closed form
    6·rx·ry·sin(π/6) to float rounding (round 6)."""
    import numpy as np_

    ev = _t(spark, sf_dir, "events").select("event_id")
    j = F.floor(F.col("event_id") / 10).cast("long")
    gid = F.pmod(F.col("event_id"), F.lit(10))
    k = F.pmod(j, F.lit(12)).cast("double")
    rim = F.pmod(j, F.lit(5)) == 0
    f = F.when(rim, F.lit(1.0)).otherwise(
        F.lit(0.3) + F.pmod(j, F.lit(3)).cast("double") * F.lit(0.1)
    )
    rx = F.lit(2.0) + F.pmod(gid, F.lit(3)).cast("double")
    ry = F.lit(1.5) + F.pmod(gid, F.lit(4)).cast("double") * F.lit(0.5)
    theta = k * F.lit(np_.pi / 6)
    pts = ev.select(
        gid.alias("gid"),
        (gid.cast("double") * F.lit(10.0) + f * rx * F.cos(theta)).alias("x"),
        (f * ry * F.sin(theta)).alias("y"),
    )

    def hull_fn(pdf):
        import numpy as np
        import pandas as pd

        from pda_spark.geo import kernels

        ring = kernels.convex_hull(np.column_stack([pdf["x"], pdf["y"]]))
        return pd.DataFrame(
            {
                "gid": [int(pdf["gid"].iloc[0])],
                "hull_n": [len(ring) - 1],
                "hull_area": [abs(kernels.ring_area_signed(ring))],
            }
        )

    out = pts.groupBy("gid").applyInPandas(
        hull_fn, "gid long, hull_n long, hull_area double"
    )
    return out.select("gid", "hull_n", F.round("hull_area", 6).alias("hull_area"))


Q85_SQL = """
SELECT DISTINCT event_id % 10 AS gid,
       CAST(12 AS BIGINT) AS hull_n,
       round(6 * (2.0 + (event_id % 10) % 3) * (1.5 + ((event_id % 10) % 4) * 0.5)
             * sin(pi() / 6), 6) AS hull_area
FROM events
"""


def q69_distance_join(spark, sf_dir):
    """ST_DWithin-class distance join (J4, reference city-buffer
    db.py:236-245) through the fully-JVM within_distance_join — cover
    cells, equi-join, sqrt refine all whole-stage codegen, zero Python —
    so the oracle's identical IEEE754 chain verifies it exactly."""
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    centers = spark.createDataFrame(
        [(q[0], q[1], q[2]) for q in KNN_QUERIES], "query_id int, clon double, clat double"
    )
    out = spatial_join.within_distance_join(pts, centers, radius=2.0015, res=6)
    return out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_points"))


Q69_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
centers(query_id, clon, clat) AS (
  VALUES {', '.join(f'({q[0]}, {q[1]}, {q[2]})' for q in KNN_QUERIES)}
)
SELECT query_id, count(*) AS n_points
FROM pts JOIN centers
  ON sqrt((lon - clon) * (lon - clon) + (lat - clat) * (lat - clat)) <= 2.0015
GROUP BY query_id
"""


# q70 fixture: wildly mixed extents — the five ~10-degree BOXES, two
# ~0.25-degree scene boxes, one ~20x22-degree continent box
MIXED_BOXES = BOXES + [
    (7, -10.005, 44.005, -9.755, 44.255),
    (8, 5.005, 47.005, 5.255, 47.255),
    (9, -19.005, 37.005, 1.005, 59.005),
]


def q70_pip_multires(spark, sf_dir):
    """Per-geometry-resolution PIP join (points_in_polygons_join_multires):
    each box covers itself at the coarsest allowed resolution bounding
    its fan-out (res lives in the cell id's high bits, so one equi-join
    spans all levels; a pair meets at exactly the polygon's res — no
    dedup). The oracle is the same range join as q41 over the mixed
    fixture, proving resolution mixing never changes results."""
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat"))).select(
        "event_id", "geom", "lon", "lat"
    )
    boxes = spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in MIXED_BOXES],
        "box_id int, box_geom binary",
    )
    joined = spatial_join.points_in_polygons_join_multires(
        pts, boxes, resolutions=(3, 5, 7, 9), point_geom="geom", poly_geom="box_geom",
        lonlat_cols=("lon", "lat"),
    )
    return joined.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points"))


Q70_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
boxes(box_id, minx, miny, maxx, maxy) AS (
  VALUES {', '.join(f'({b[0]}, {b[1]}, {b[2]}, {b[3]}, {b[4]})' for b in MIXED_BOXES)}
)
SELECT box_id, count(*) AS n_points
FROM pts JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY box_id
"""


def q71_decontaminate(spark, sf_dir):
    """Benchmark decontamination (train-test overlap, GPT-3/Pile style):
    eval set = every 97th doc; each training doc counts the DISTINCT
    5-gram shingles it shares with the eval set (broadcast eval shingle
    hashes; the oracle joins raw substrings — hash equality == substring
    equality at these scales, same argument as the q26 band join)."""
    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    ev = base.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    tr = base.filter(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    return dedup.decontaminate(tr, ev, "doc_id", k=_JACCARD_K)


Q71_SQL = rf"""
WITH base AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id < 500
), sh AS (
  SELECT doc_id, unnest(list_distinct([substring(t, i, {_JACCARD_K})
         for i in range(1, greatest(length(t) - {_JACCARD_K - 1}, 1) + 1)])) AS s
  FROM base
), ev AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
), hits AS (
  SELECT sh.doc_id, count(*) AS n FROM sh JOIN ev ON sh.s = ev.s
  WHERE sh.doc_id % 97 <> 0 GROUP BY sh.doc_id
)
SELECT b.doc_id,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_shared_grams,
       coalesce(hits.n, 0) > 0 AS contaminated
FROM base b LEFT JOIN hits ON b.doc_id = hits.doc_id
WHERE b.doc_id % 97 <> 0
"""


def q72_corpus_quality(spark, sf_dir):
    """Corpus-frequency quality signals (CCNet/Gopher 'how typical'
    family without a language model): mean corpus token frequency and
    rare-token share per doc — integer sums + one explicit double
    division per signal, so the oracle is exact (no libm log, no avg()
    accumulation order)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.corpus_frequency_quality(docs)
    return out.select(
        "doc_id", "n_toks", "sum_freq",
        F.round("mean_tok_freq", 6).alias("mean_tok_freq"),
        F.round("rare_tok_ratio", 6).alias("rare_tok_ratio"),
    )


Q72_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), cnt AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(c) AS BIGINT) AS sum_freq,
       round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_tok_freq,
       round(CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS rare_tok_ratio
FROM toks JOIN cnt USING (tok)
GROUP BY doc_id
"""


def q73_quota_sample(spark, sf_dir):
    """Per-language character-budget sampling (the data-mixture
    operator): deterministic Knuth-hash order, running char sum per
    language, keep while under budget. Stable under re-partitioning and
    fully reproducible in SQL."""
    docs = _t(spark, sf_dir, "documents")
    out = text.quota_sample_by_chars(docs, budget_per_lang=20_000)
    return out.select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"), "cum_chars")


Q73_SQL = """
WITH h AS (
  SELECT doc_id, lang, n_chars,
         -- id folded before the multiply: mirrors the operator's ANSI
         -- overflow guard (ids > ~3.47e9 would overflow the product)
         ((CAST(doc_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 AS hk
  FROM documents
), c AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
         -- CAST: DuckDB window sum(BIGINT) -> HUGEINT -> pandas float64
         CAST(sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang ORDER BY hk, doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
  FROM h
)
SELECT doc_id, lang, n_chars, cum_chars FROM c WHERE cum_chars <= 20000
"""


def q93_sequence_packing(spark, sf_dir):
    """Sequence packing (concat-and-chunk, the pre-training batching
    step): docs laid end-to-end in Knuth-hash order, cut into 2048-char
    bins; each doc's (bin, offset) is pure integer arithmetic on the
    two-level exclusive-prefix cumsum — SQL replays the single-window
    equivalent exactly."""
    docs = _t(spark, sf_dir, "documents")
    return text.pack_sequences(docs, context_len=2048)


Q93_SQL = """
WITH h AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n,
         ((CAST(doc_id AS BIGINT) % 2147483647) * 2654435761) % 2147483647 AS hk
  FROM documents
), c AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY hk, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM h
)
SELECT doc_id, s // 2048 AS bin_id, s % 2048 AS bin_offset, n FROM c
"""


def q74_pii_scrub(spark, sf_dir):
    """PII redaction gate: a deterministic email + IPv4 literal is
    injected per doc (both engines build the identical string), then the
    scrub chain rewrites and the per-class audit counts are emitted;
    the oracle applies the same regex chain with DuckDB's 'g'
    (replace-all) flag so outputs are byte-identical."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@site.example.com or 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"), F.lit(".7 now"),
        ).alias("t"),
    )
    return injected.select(
        "doc_id",
        F.md5(text.pii_scrub(F.col("t"))).alias("scrub_fp"),
        *text.pii_counts(F.col("t")),
    )


Q74_SQL = r"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@site.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS t
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g')) AS scrub_fp,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips
FROM d
"""


def q75_boilerplate_lines(spark, sf_dir):
    """Line-level boilerplate removal (CCNet/Trafilatura corpus step):
    two injected footer lines occur in 100% of docs (removed), one
    unique note line per doc survives; the oracle replays the
    line-frequency filter + ordered string_agg reassembly. Every 7th
    doc is ALL boilerplate (footer lines only) — such docs must still
    emit a row with clean_fp NULL and n_lines_kept 0 (ADVICE r4: the
    old kept-lines groupBy dropped them entirely)."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.lit("Copyright 2026 Example Corp\nAll rights reserved"),
        ).otherwise(
            F.concat(
                F.col("text"),
                F.lit("\nCopyright 2026 Example Corp\nAll rights reserved\nunique-note-"),
                F.col("doc_id").cast("string"),
            )
        ).alias("text"),
    )
    out = text.remove_boilerplate_lines(injected, max_doc_frac=0.5)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_fp"), "n_lines_kept", "n_lines_removed"
    )


Q75_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN 'Copyright 2026 Example Corp' || chr(10) || 'All rights reserved'
              ELSE text || chr(10) || 'Copyright 2026 Example Corp'
                        || chr(10) || 'All rights reserved'
                        || chr(10) || 'unique-note-' || CAST(doc_id AS VARCHAR)
         END AS t
  FROM documents
), sp AS (
  SELECT doc_id, string_split(t, chr(10)) AS ls FROM d
), ll AS (
  SELECT doc_id, unnest([{'pos': i, 'line': ls[i]} for i in range(1, len(ls) + 1)]) AS e
  FROM sp
), lines AS (
  SELECT doc_id, e.pos AS pos, e.line AS line FROM ll
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
), n AS (
  SELECT count(*) AS n_docs FROM documents
), tagged AS (
  SELECT lines.*, freq.df FROM lines JOIN freq USING (line)
)
SELECT doc_id,
       md5(string_agg(CASE WHEN df <= 0.5 * (SELECT n_docs FROM n) THEN line END,
                      chr(10) ORDER BY pos)) AS clean_fp,
       CAST(sum(CASE WHEN df <= 0.5 * (SELECT n_docs FROM n) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_kept,
       CAST(sum(CASE WHEN df > 0.5 * (SELECT n_docs FROM n) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_removed
FROM tagged
GROUP BY doc_id
"""


def q81_bm25(spark, sf_dir):
    """BM25 term scoring over the corpus (retrieval/search scorer,
    Robertson k1=1.2 b=0.75): per-(doc, term) rows so every value is a
    single scalar expression — Spark F.log == DuckDB ln (libm), formula
    op-order mirrored term for term, round 6 with ~1e-15 drift."""
    docs = _t(spark, sf_dir, "documents")
    out = text.bm25_term_scores(docs, ["spark", "join", "vector"])
    return out.select(
        "doc_id", "tok", F.round("bm25", 6).alias("bm25"),
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("dl").cast("long").alias("dl"),
    )


Q81_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE tok IN ('spark', 'join', 'vector') GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
)
SELECT tf.doc_id, tf.tok,
       round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))),
             6) AS bm25,
       tf, df, dl
FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
"""


def q48_river_intersects(spark, sf_dir):
    """LineString x polygon ST_Intersects join (J2 with a lineal operand).

    The reference's land-cover table mixes urban polygons with river/lake
    centerline LineStrings (/root/reference/api_importer/clients/
    geojson_xyz.py:59-70; model database/db.py:248-253), so its
    image x land_cover join (database/db.py:116-122) runs against lines in
    production. Rivers here are axis-aligned H-V-H staircase centerlines,
    which makes the DuckDB oracle a pure interval-overlap predicate: an
    axis-aligned segment's bbox IS the segment, so rect-intersects-segment
    reduces to per-axis interval overlap, and the river hits the image iff
    any of its 3 segments does. Same cover/dedup/refine plan as q45 — the
    physical join is geometry-kind-agnostic (bbox covers + exact refine).
    """
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(37)) == 0)
    img = o.select(
        F.col("o_orderkey").alias("img_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(4000)) / 100.0 - 20.0).alias("ix"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(2200)) / 100.0 + 37.0).alias("iy"),
        (F.pmod(F.col("o_orderkey"), F.lit(10)) / 20.0 + 0.05).alias("ih"),
    )
    img = img.withColumn(
        "geom",
        _mk_box(
            F.col("ix") - F.col("ih"),
            F.col("iy") - F.col("ih"),
            F.col("ix") + F.col("ih"),
            F.col("iy") + F.col("ih"),
        ),
    )
    rivers = _rivers(spark, sf_dir).withColumn(
        "river_geom", _mk_staircase(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"),
        rivers.select("river_id", "river_geom"),
        res=6,
        left_geom="geom",
        right_geom="river_geom",
    )
    return pairs.groupBy("river_id").agg(F.count(F.lit(1)).alias("n_images"))


Q48_SQL = """
WITH img AS (
  SELECT o_orderkey AS img_id,
         ((o_orderkey * 7) % 4000) / 100.0 - 20.0 AS ix,
         ((o_orderkey * 11) % 2200) / 100.0 + 37.0 AS iy,
         (o_orderkey % 10) / 20.0 + 0.05 AS ih
  FROM orders WHERE o_orderkey % 37 = 0
), rivers AS (
  SELECT n_nationkey AS river_id,
         ((n_nationkey * 19) % 3600) / 100.0 - 19.0 AS ax,
         ((n_nationkey * 23) % 2000) / 100.0 + 38.0 AS ay,
         (n_nationkey % 5) / 10.0 + 0.4 AS w,
         ((n_nationkey * 3) % 7) / 10.0 - 0.35 AS h
  FROM nation
), segs AS (
  -- H-V-H staircase: each axis-aligned segment's bbox IS the segment
  SELECT river_id, ax AS x0, ax + w AS x1, ay AS y0, ay AS y1 FROM rivers
  UNION ALL
  SELECT river_id, ax + w, ax + w, least(ay, ay + h), greatest(ay, ay + h) FROM rivers
  UNION ALL
  SELECT river_id, ax + w, ax + 2 * w, ay + h, ay + h FROM rivers
)
SELECT river_id, count(*) AS n_images
FROM (
  SELECT DISTINCT img_id, river_id
  FROM img JOIN segs
    ON ix - ih <= x1 AND x0 <= ix + ih
   AND iy - ih <= y1 AND y0 <= iy + ih
) GROUP BY river_id
"""


@pandas_udf(T.BinaryType())
def _mk_river_line(ax: pd.Series, ay: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    """5-vertex river centerline: the q48 H-V-H staircase plus one
    DIAGONAL tail segment (exercises the hypot leg of ST_Length):
    (ax,ay) -> (ax+w,ay) -> (ax+w,ay+h) -> (ax+2w,ay+h) -> (ax+3w,ay+2h)."""
    import numpy as np

    return pd.Series(
        [
            W.linestring(
                np.array(
                    [
                        [a, b],
                        [a + ww, b],
                        [a + ww, b + hh],
                        [a + 2 * ww, b + hh],
                        [a + 3 * ww, b + 2 * hh],
                    ]
                )
            )
            for a, b, ww, hh in zip(ax, ay, w, h)
        ]
    )


def _rivers(spark, sf_dir) -> DataFrame:
    """Shared deterministic river dimension (see q48 docstring)."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("river_id"),
        (F.pmod(F.col("n_nationkey") * 19, F.lit(3600)) / 100.0 - 19.0).alias("ax"),
        (F.pmod(F.col("n_nationkey") * 23, F.lit(2000)) / 100.0 + 38.0).alias("ay"),
        (F.pmod(F.col("n_nationkey"), F.lit(5)) / 10.0 + 0.4).alias("w"),
        (F.pmod(F.col("n_nationkey") * 3, F.lit(7)) / 10.0 - 0.35).alias("h"),
    )


_RIVERS_SQL = """
  SELECT n_nationkey AS river_id,
         ((n_nationkey * 19) % 3600) / 100.0 - 19.0 AS ax,
         ((n_nationkey * 23) % 2000) / 100.0 + 38.0 AS ay,
         (n_nationkey % 5) / 10.0 + 0.4 AS w,
         ((n_nationkey * 3) % 7) / 10.0 - 0.35 AS h
  FROM nation
"""


def q88_geodesic_length(spark, sf_dir):
    """ST_LengthSpheroid per river SEGMENT (great-circle metres on the
    authalic sphere — closes the geodesic measurement family beside q78's
    distance metric): the q49 5-vertex river lines decode once per row,
    each of the 4 segments emits its own haversine length, so every value
    is a single scalar expression the q78-style oracle replays."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "line", _mk_river_line(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    segs = rivers.select(
        "river_id",
        F.posexplode(geo_udfs.geodesic_seg_lengths(F.col("line"))).alias("seg", "len_m"),
    )
    return segs.select("river_id", "seg", F.round("len_m", 6).alias("len_m"))


Q88_SQL = f"""
WITH r AS ({_RIVERS_SQL}), segs AS (
  SELECT river_id, 0 AS seg, ax AS lon0, ay AS lat0, ax + w AS lon1, ay AS lat1 FROM r
  UNION ALL SELECT river_id, 1, ax + w, ay, ax + w, ay + h FROM r
  UNION ALL SELECT river_id, 2, ax + w, ay + h, ax + 2 * w, ay + h FROM r
  UNION ALL SELECT river_id, 3, ax + 2 * w, ay + h, ax + 3 * w, ay + 2 * h FROM r
)
SELECT river_id, seg,
       round(2.0 * CAST({_RQ_REPR} AS DOUBLE) * asin(sqrt(least(greatest(
             pow(sin((radians(lat1) - radians(lat0)) / 2.0), 2)
             + cos(radians(lat0)) * cos(radians(lat1))
               * pow(sin((radians(lon1) - radians(lon0)) / 2.0), 2),
       0.0), 1.0))), 6) AS len_m
FROM segs
"""


def q49_river_length(spark, sf_dir):
    """ST_Length over LineString rivers (planar degrees — F-function
    coverage for the lineal geometry family). The 5-vertex centerline
    includes a diagonal segment, so the UDF's sqrt(dx*dx+dy*dy) path is
    exercised; the oracle replays the identical per-segment op chain and
    the identical left-to-right accumulation, so the doubles match
    bit-for-bit with no rounding."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "river_geom", _mk_river_line(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    return rivers.select(
        "river_id", geo_udfs.line_length_planar(F.col("river_geom")).alias("length_deg")
    )


Q49_SQL = f"""
WITH rivers AS ({_RIVERS_SQL}),
p AS (
  SELECT river_id,
         ax AS x0, ay AS y0,
         ax + w AS x1, ay AS y1,
         ax + w AS x2, ay + h AS y2,
         ax + 2 * w AS x3, ay + h AS y3,
         ax + 3 * w AS x4, ay + 2 * h AS y4
  FROM rivers
)
SELECT river_id,
       sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))
     + sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
     + sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2))
     + sqrt((x4 - x3) * (x4 - x3) + (y4 - y3) * (y4 - y3)) AS length_deg
FROM p
"""


def q50_river_crossings(spark, sf_dir):
    """LineString x LineString intersects join (river staircases x
    vertical road segments) — the line-line leg of the generalized
    refine kernel, driver-gated. Roads sit at x's with a .005 offset so
    no road is ever collinear with a river's vertical segment; only
    H-river-segment x V-road crossings exist, which the oracle expresses
    as pure interval predicates."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "river_geom", _mk_staircase(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    s = _t(spark, sf_dir, "supplier")
    roads = s.select(
        F.col("s_suppkey").alias("road_id"),
        (F.pmod(F.col("s_suppkey") * 29, F.lit(3900)) / 100.0 - 19.005).alias("rx"),
        (F.pmod(F.col("s_suppkey") * 31, F.lit(1900)) / 100.0 + 38.0).alias("ry0"),
    ).withColumn("ry1", F.col("ry0") + F.pmod(F.col("road_id"), F.lit(6)) / 2.0 + 0.5)
    roads = roads.withColumn(
        "road_geom", _mk_segment(F.col("rx"), F.col("ry0"), F.col("rx"), F.col("ry1"))
    )
    pairs = spatial_join.intersects_join(
        roads.select("road_id", "road_geom"),
        rivers.select("river_id", "river_geom"),
        res=6,
        left_geom="road_geom",
        right_geom="river_geom",
    )
    return pairs.groupBy("road_id").agg(F.count(F.lit(1)).alias("n_rivers"))


Q50_SQL = f"""
WITH rivers AS ({_RIVERS_SQL}),
hsegs AS (
  SELECT river_id, ax AS hx0, ax + w AS hx1, ay AS hy FROM rivers
  UNION ALL
  SELECT river_id, ax + w, ax + 2 * w, ay + h FROM rivers
), roads AS (
  SELECT s_suppkey AS road_id,
         ((s_suppkey * 29) % 3900) / 100.0 - 19.005 AS rx,
         ((s_suppkey * 31) % 1900) / 100.0 + 38.0 AS ry0,
         ((s_suppkey * 31) % 1900) / 100.0 + 38.0 + (s_suppkey % 6) / 2.0 + 0.5 AS ry1
  FROM supplier
)
SELECT road_id, count(*) AS n_rivers
FROM (
  SELECT DISTINCT river_id, road_id
  FROM hsegs JOIN roads
    ON hx0 <= rx AND rx <= hx1 AND ry0 <= hy AND hy <= ry1
) GROUP BY road_id
"""


def q51_dedup_clusters(spark, sf_dir):
    """Fuzzy-dedup CLUSTERING: MinHash-LSH candidate pairs (bit-for-bit
    the q26 signatures, banded 2x2) -> connected components via
    alternating large-star/small-star (graph.py) -> every doc labeled
    with its cluster min + cluster size. The DuckDB oracle recomputes
    the same pairs as minhash-tuple equality per band and resolves
    components with a recursive min-label CTE — a full end-to-end check
    of the iterative DataFrame algorithm, not just one round."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", k=_JACCARD_K, n_hashes=_MINHASH_N, bands=2, seed=42
    )
    return graph.dedup_cluster_labels(docs, pairs)


def _q51_sql() -> str:
    # bands of 2 rows over the 4 q26 minhash columns: a pair is a
    # candidate iff band 0 (mh_0, mh_1) or band 1 (mh_2, mh_3) matches
    # exactly — identical to Spark's xxhash64-bucket equi-join modulo a
    # 64-bit band-hash collision (which the value-hash gate would expose)
    return f"""
WITH RECURSIVE
sig AS (SELECT * FROM ({_minhash_sql()})),
pairs AS (
  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1)
     OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3))
),
edges AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs),
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < {_JACCARD_LIMIT}
  UNION
  SELECT e.d, w.lab FROM walk w JOIN edges e ON e.s = w.id
),
comp AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM comp
"""


def q52_repetition_quality(spark, sf_dir):
    """Gopher-style repetition filters over all documents: most-frequent
    word / word-bigram counts and ppm fractions (pure-Catalyst explode +
    two map-side-combinable aggs, text.repetition_features). ppm uses
    floor((1e6 * top) / n) so both engines hit the same double before
    truncating — no round() half-way hazards."""
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_features(docs)


Q52_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l FROM documents
),
uc AS (
  SELECT doc_id, max(c) AS top_word_count FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(l) AS g FROM w) GROUP BY doc_id, g
  ) GROUP BY doc_id
),
bc AS (
  SELECT doc_id, max(c) AS top_bigram_count FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id,
                 unnest([l[i] || ' ' || l[i + 1] for i in range(1, len(l))]) AS g
          FROM w) GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.l) AS BIGINT) AS n_words,
       CAST(coalesce(uc.top_word_count, 0) AS BIGINT) AS top_word_count,
       CAST(coalesce(bc.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       CAST(floor(1000000.0 * coalesce(uc.top_word_count, 0) / len(w.l)) AS BIGINT)
         AS top_word_ppm,
       CAST(floor(1000000.0 * coalesce(bc.top_bigram_count, 0) / len(w.l)) AS BIGINT)
         AS top_bigram_ppm
FROM w LEFT JOIN uc USING (doc_id) LEFT JOIN bc USING (doc_id)
"""


def q53_train_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (80/10/10): stable
    under re-partitioning and re-runs (pure function of doc_id via md5),
    the leakage-safe way to split at 100 TB. Gate output is the per
    (lang, split) histogram."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.hash_split(F.col("doc_id")).alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


Q53_SQL = """
SELECT lang,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs
FROM (
  SELECT lang,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS b
  FROM documents
)
GROUP BY 1, 2
"""


def q54_url_normalize(spark, sf_dir):
    """URL canonicalization + host extraction over a deterministic raw
    url synthesized from (source, doc_id) — messy casing, www., default
    port, trailing slash, tracking query, fragment — plus the per-host
    doc count. Pure-Catalyst regexp chain (text.normalize_url), every
    pattern single-match so the DuckDB twin is byte-identical."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    base = docs.select(
        "doc_id",
        text.normalize_url(raw).alias("url_norm"),
        text.url_host(raw).alias("host"),
    )
    w = Window.partitionBy("host")
    return base.withColumn("n_host_docs", F.count(F.lit(1)).over(w))



def _url_norm_ctes(carry: str) -> str:
    """The step/parts/norm oracle CTE chain twin of text.normalize_url
    — ONE copy (review finding: Q54/Q145 carried verbatim duplicates; a
    normalize_url change must update exactly one SQL twin). Expects a
    prior CTE ``raw`` with columns (url, <carry>); ``norm`` emits
    (<carry>, url_norm, host)."""
    return rf"""step AS (
  SELECT {carry},
         regexp_replace(regexp_replace(url, '#.*$', ''), '\?utm_[^?]*$', '') AS u
  FROM raw
), parts AS (
  SELECT {carry}, u,
         lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1)),
                        '^www\.', '') AS hostport,
         regexp_replace(regexp_extract(u, '^[A-Za-z]+://[^/?#]+([/?].*)?$', 1),
                        '/$', '') AS rest
  FROM step
), norm AS (
  SELECT {carry},
         scheme || '://'
         || (CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  ELSE regexp_replace(hostport, ':80$', '') END)
         || rest AS url_norm,
         regexp_replace(lower(regexp_extract(u, '^[A-Za-z]+://([^/:?#]+)', 1)),
                        '^www\.', '') AS host
  FROM parts
)"""


Q54_SQL = rf"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
), {_url_norm_ctes("doc_id")}
SELECT doc_id, url_norm, host,
       CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS n_host_docs
FROM norm
"""


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


def q56_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation — the composition a real training-data
    run executes, as ONE lazy DAG plus the CC driver loop:

      quality filter (n_words >= 25, top-word <= 150000 ppm)
        -> exact dedup (keep min doc_id per normalized-text fingerprint)
        -> near-dup clustering (MinHash-LSH pairs -> connected
           components), keep the cluster representative
        -> deterministic hash split
        -> per (split, lang) corpus counts.

    The DuckDB oracle replays every stage including the recursive-CTE
    component resolution, so the whole pipeline — not just each operator
    in isolation — is value-verified."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    rep = text.repetition_features(docs)
    qual = rep.filter((F.col("n_words") >= 25) & (F.col("top_word_ppm") <= 150000)).select(
        "doc_id"
    )
    survivors = docs.join(qual, "doc_id")
    fp = survivors.withColumn("fp", text.fingerprint(F.col("text")))
    wfp = Window.partitionBy("fp")
    exact = (
        fp.withColumn("_mn", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") == F.col("_mn"))
        .drop("_mn", "fp")
    )
    pairs = dedup.minhash_lsh_candidates(
        exact, "doc_id", k=_JACCARD_K, n_hashes=_MINHASH_N, bands=2, seed=42
    )
    labels = graph.dedup_cluster_labels(exact, pairs)
    keep = labels.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    final = keep.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", text.hash_split(F.col("doc_id")).alias("split")
    )
    return final.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _q56_sql() -> str:
    sig_over_exact = _minhash_sql("ex JOIN documents USING (doc_id)")
    return rf"""
WITH RECURSIVE
docs0 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id < {_JACCARD_LIMIT}),
wl AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l FROM docs0),
uc AS (
  SELECT doc_id, max(c) AS twc FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(l) AS g FROM wl) GROUP BY doc_id, g
  ) GROUP BY doc_id
),
qual AS (
  SELECT wl.doc_id FROM wl JOIN uc USING (doc_id)
  WHERE len(l) >= 25 AND floor(1000000.0 * twc / len(l)) <= 150000
),
fp AS (
  SELECT d.doc_id, md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')) AS f
  FROM docs0 d JOIN qual USING (doc_id)
),
ex AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS mn FROM fp
  ) WHERE doc_id = mn
),
sig AS (SELECT * FROM ({sig_over_exact})),
pairs AS (
  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
  FROM sig a JOIN sig b
    ON a.doc_id < b.doc_id
   AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1)
     OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3))
),
edges AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs),
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM ex
  UNION
  SELECT e.d, w.lab FROM walk w JOIN edges e ON e.s = w.id
),
comp AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id),
keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
final AS (
  SELECT d.lang,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS b
    FROM keep
  ) JOIN docs0 d USING (doc_id)
)
SELECT split, lang, count(*) AS n_docs FROM final GROUP BY 1, 2
"""


def _events_us(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))


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


def q59_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: exactly 20 docs per lang,
    chosen by md5-hash order (stable under re-partitioning and re-runs,
    unlike rand()-based sampleBy) — how an over-represented language
    gets down-weighted reproducibly in corpus assembly. Window top-k per
    stratum; at scale the per-stratum heap (WindowGroupLimit) keeps it
    one shuffle, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    h = dedup.hex_to_long(F.md5(F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
    )


Q59_SQL = """
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT, doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
"""


def q60_vocabulary(spark, sf_dir):
    """Corpus vocabulary building: global word counts, top 50 by
    (count desc, word) with document frequency — the explode-heavy
    aggregation every tokenizer-training / corpus-stats pass runs. Two
    map-side-combinable shuffles on the word, then a 50-row window
    limit."""
    from pda_spark.session import spread

    docs = _t(spark, sf_dir, "documents")
    # spread the 2-split documents scan before the explode (r07 pattern)
    toks = spread(docs).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    counts = toks.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    # distributed top-k (TakeOrderedAndProject) FIRST — a global
    # row_number over the full vocabulary would drag every word into one
    # partition; ranking only the 50 survivors is free
    top = counts.orderBy(F.col("n_occurrences").desc(), F.col("w").asc()).limit(50)
    win = Window.orderBy(F.col("n_occurrences").desc(), F.col("w").asc())
    return top.select(
        "w", "n_occurrences", "n_docs", F.row_number().over(win).cast("long").alias("rk")
    )


Q60_SQL = r"""
SELECT w, n_occurrences, n_docs, CAST(rk AS BIGINT) AS rk FROM (
  SELECT w, n_occurrences, n_docs,
         row_number() OVER (ORDER BY n_occurrences DESC, w) AS rk
  FROM (
    SELECT w, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents
    ) GROUP BY w
  )
) WHERE rk <= 50
"""


@pandas_udf(T.BinaryType())
def _mk_staircase_dense(ax: pd.Series, ay: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    """The q48 H-V-H staircase with a redundant COLLINEAR midpoint on
    each segment (7 vertices) — the DP-simplify fixture."""
    import numpy as np

    out = []
    for a, b, ww, hh in zip(ax, ay, w, h):
        pts = np.array(
            [
                [a, b],
                [a + ww / 2, b],
                [a + ww, b],
                [a + ww, b + hh / 2],
                [a + ww, b + hh],
                [a + 1.5 * ww, b + hh],
                [a + 2 * ww, b + hh],
            ]
        )
        out.append(W.linestring(pts))
    return pd.Series(out)


def q61_simplify(spark, sf_dir):
    """ST_Simplify (Douglas-Peucker, kernels.dp_simplify) through the
    gate: rivers densified with exactly-collinear midpoints must
    simplify back to their 4 corners — vertex counts before/after plus
    the post-simplify ST_Length. The oracle knows the exact answer
    arithmetically (collinear points have deviation exactly 0, corners
    exceed any tol < min(w,|h|)/2), including the bit-exact length sqrt
    chain of the simplified segments."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "dense_geom", _mk_staircase_dense(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    simp = rivers.withColumn(
        "simple_geom", geo_udfs.simplify_geom(F.col("dense_geom"), F.lit(1e-9))
    )
    return simp.select(
        "river_id",
        geo_udfs.num_points(F.col("dense_geom")).alias("n_pts_before"),
        geo_udfs.num_points(F.col("simple_geom")).alias("n_pts_after"),
        geo_udfs.line_length_planar(F.col("simple_geom")).alias("length_deg"),
    )


Q61_SQL = f"""
WITH rivers AS ({_RIVERS_SQL}),
p AS (
  SELECT river_id,
         ax AS x0, ay AS y0,
         ax + w AS x1, ay AS y1,
         ax + w AS x2, ay + h AS y2,
         ax + 2 * w AS x3, ay + h AS y3
  FROM rivers
)
SELECT river_id,
       CAST(7 AS BIGINT) AS n_pts_before,
       CAST(4 AS BIGINT) AS n_pts_after,
       sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))
     + sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
     + sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2)) AS length_deg
FROM p
"""


def q63_video_frames(spark, sf_dir):
    """Video frame-sampling PLUMBING through the gate (multimodal
    mapInPandas, q28's sibling): which (media, frame_no) rows the
    sampler emits is pure arithmetic on payload length (no codecs in
    this env — decode is the documented stub), so the oracle replays it
    with a range() expansion. every_n=3 over fake 64-byte frames."""
    from pda_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(F.lit(0).alias("width"), F.lit(0).alias("height"), F.lit("x-fake/video").alias("mime")).alias("meta"),
    )
    frames = multimodal.frame_sample(media, every_n=3)
    return frames.select("media_id", F.col("frame_no").cast("long").alias("frame_no"))


Q63_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(unnest(range(0, greatest(octet_length(CAST(text AS BLOB)) // 64, 1), 3)) AS BIGINT)
         AS frame_no
FROM documents WHERE doc_id < 100
"""


def q98_image_decode(spark, sf_dir):
    """REAL image decode through the gate (VERDICT r5 #3 — upgrades the
    L17 codec slot from fake-decode): per-doc pixel arrays come from a
    pure-arithmetic formula, get ENCODED to real bytes — binary PPM for
    even doc_id, 24-bit BMP for odd (bottom-up BGR rows with 4-byte
    stride padding; widths 5..11 so padding varies) — then round-trip
    through multimodal.decode_image, emitting exact integer channel
    sums. The DuckDB oracle replays the pixel formula arithmetically,
    so any header-offset / stride / BGR / row-order bug in the decoder
    shifts bytes and breaks the sums. Two chained mapInPandas stages
    (encode, decode) = two Python workers on this leg — fine for a
    fixture-sized gate; production decode is the single
    decode_image_stats stage."""
    from pda_spark.functions import multimodal

    media = _synth_coded_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_image_stats(media)


def _synth_coded_media(docs: DataFrame) -> DataFrame:
    """REAL-encoded fixture media shared by q98/q101: formula pixels
    (``(doc_id*31 + i*7) % 256`` over the flat RGB index) encoded to
    binary PPM (even doc_id) or 24-bit BMP (odd — bottom-up BGR rows,
    4-byte stride padding; widths 5..11 so the padding varies)."""
    from pda_spark.functions import multimodal

    docs = docs.filter(F.col("doc_id") < 120).select("doc_id")

    def make_media(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 7, 4 + did % 5
                i = np.arange(w * h * 3, dtype=np.int64)
                px = ((did * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w, 3)
                enc = multimodal.encode_bmp if did % 2 else multimodal.encode_ppm
                rows.append({"media_id": f"{did:06d}", "payload": enc(px)})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return docs.mapInPandas(make_media, media_schema)


Q98_SQL = """
WITH d AS (
  SELECT doc_id, 5 + doc_id % 7 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 120
)
SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(list_sum([(doc_id * 31 + (3 * p) * 7) % 256 for p in range(0, w * h)]) AS BIGINT) AS r_sum,
       CAST(list_sum([(doc_id * 31 + (3 * p + 1) * 7) % 256 for p in range(0, w * h)]) AS BIGINT) AS g_sum,
       CAST(list_sum([(doc_id * 31 + (3 * p + 2) * 7) % 256 for p in range(0, w * h)]) AS BIGINT) AS b_sum
FROM d
"""


def q99_udtf_shingles(spark, sf_dir):
    """Native Python UDTF surface (SURVEY §2.10 — completes the
    UDF/UDAF/UDTF triad, VERDICT r5 #8): per-doc k-char shingles emitted
    by a REAL Spark 4 table function (``@udtf(useArrow=True)``, LATERAL
    join, ArrowEvalPythonUDTF plan node — pytest-asserted) instead of
    the explode idiom, then aggregated per doc. The UDTF's Python
    normalization mirrors ``dedup.char_shingles`` byte-for-byte (ASCII
    whitespace class — Java \\s == RE2 \\s ⊂ Python \\s), and the
    DuckDB oracle regenerates the shingles with substring arithmetic,
    gating all three implementations against each other."""
    from pda_spark.functions import udtfs

    docs = _t(spark, sf_dir, "documents").filter(
        (F.pmod(F.col("doc_id"), F.lit(11)) == 0) & F.col("text").isNotNull()
    )
    rows = udtfs.shingle_rows(docs, id_col="doc_id", text_col="text", k=6)
    return rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
        F.min("shingle").alias("min_shingle"),
        F.max("shingle").alias("max_shingle"),
    )


Q99_SQL = r"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
  FROM documents WHERE doc_id % 11 = 0 AND text IS NOT NULL
), sh AS (
  SELECT doc_id,
         unnest([substring(n, i, 6) for i in range(1, greatest(length(n) - 5, 1) + 1)]) AS shingle
  FROM d
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
       min(shingle) AS min_shingle,
       max(shingle) AS max_shingle
FROM sh GROUP BY doc_id
"""


def q100_substring_containment(spark, sf_dir):
    """Exact substring-containment search (quotation / verbatim-overlap
    detection — the sharp twin of q71's shingle-overlap decontamination):
    snippets are 24-char cuts of every 13th doc's normalized text; find
    every document whose normalized text contains each snippet verbatim.
    Spark runs the rare-shingle inverted-index path
    (``dedup.substring_containment``: posting table + per-hash df, each
    snippet probes on its lowest-df shingle, one JVM ``instr`` verify
    per candidate); the oracle brute-forces ``strpos`` over the cross
    product — the scale path must reproduce the exhaustive semantics
    exactly. Self-matches and exact-duplicate docs both appear."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    snips = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(13)) == 0)
        .select(F.col("doc_id").alias("snip_id"), norm.alias("_n"))
        .select(
            "snip_id",
            F.expr("substring(_n, 1 + CAST(snip_id % 16 AS INT), 24)").alias("stext"),
        )
        .filter(F.length("stext") == 24)
    )
    out = dedup.substring_containment(
        docs, snips, id_col="doc_id", text_col="text",
        snip_id_col="snip_id", snip_text_col="stext", k=8,
    )
    return out.select("snip_id", "doc_id")


Q100_SQL = r"""
WITH c AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS ctext
  FROM documents
), s AS (
  SELECT doc_id AS snip_id, substring(ctext, CAST(1 + doc_id % 16 AS INTEGER), 24) AS stext
  FROM c WHERE doc_id % 13 = 0
)
SELECT s.snip_id, c.doc_id
-- trim replays the operator's snippet normalization: a 24-char cut can
-- land on a boundary space, and substring_containment normalizes BOTH
-- sides (round-6 review: at sf0.1, 120 snippets carry boundary spaces
-- and the verbatim form diverged by one pair — 453 vs 452)
FROM s JOIN c ON strpos(c.ctext, trim(s.stext)) > 0
WHERE length(s.stext) = 24
"""


def q101_image_downsample(spark, sf_dir):
    """Image resize via area (block-mean) downsampling over REAL encoded
    bytes: the q98 fixture media (formula pixels -> PPM/BMP bytes) is
    decoded and pooled to a 4x4 grid in ONE fused mapInPandas stage
    (multimodal.downsample_block_mean). Pixel (y, x) maps to cell
    (y*4 // h, x*4 // w) — integer-exact area partition, no float
    resampling grid — and each cell emits the exact integer sum over
    all channels plus the sample count, so the DuckDB oracle replays
    the decode+pool with pure modular/div arithmetic. Any stride /
    BGR / row-order decode bug lands in the wrong cell and breaks the
    per-cell sums (a sharper gate than q98's whole-image sums)."""
    from pda_spark.functions import multimodal

    media = _synth_coded_media(_t(spark, sf_dir, "documents"))
    return multimodal.downsample_block_mean(media, out_w=4, out_h=4)


Q101_SQL = """
WITH d AS (
  SELECT doc_id, 5 + doc_id % 7 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 120
), px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM d
), cell AS (
  SELECT doc_id,
         CAST(((p // w) * 4) // h AS INTEGER) AS by,
         CAST(((p % w) * 4) // w AS INTEGER) AS bx,
         (doc_id * 31 + (3 * p) * 7) % 256
           + (doc_id * 31 + (3 * p + 1) * 7) % 256
           + (doc_id * 31 + (3 * p + 2) * 7) % 256 AS v
  FROM px
)
SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS media_id, by, bx,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(count(*) * 3 AS BIGINT) AS n_px,
       round_even(CAST(sum(v) AS DOUBLE) / (count(*) * 3), 6) AS mean_px
FROM cell GROUP BY doc_id, by, bx
"""


def q102_tfidf(spark, sf_dir):
    """TF-IDF feature extraction over the FULL vocabulary (sklearn
    smooth-idf form; the unscoped twin of q81's query-term BM25): one
    row per distinct (doc, term) with tf, df and
    tf * (ln((1+N)/(1+df)) + 1). Per-(doc, term) scalar rows — never a
    per-doc float sum — so the oracle replays the exact libm op order
    (the q81 rule); N is a broadcast one-row aggregate."""
    docs = _t(spark, sf_dir, "documents")
    out = text.tfidf_term_scores(docs, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id", "tok",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("tfidf", 6).alias("tfidf"),
    )


Q102_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
)
SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
       round(tf.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
FROM tf JOIN dfreq USING (tok) CROSS JOIN n
"""


def q103_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    plagiarism-detection selector): hash every 5-shingle, slide a
    4-hash window, keep each window's MINIMUM hash, emit the distinct
    selected hashes per doc. Guarantees any shared substring of length
    >= k+w-1 = 8 shares a fingerprint at ~2/(w+1) density. Emitting
    distinct min VALUES (not positions) makes the result independent of
    tie-position conventions, so the oracle is a plain SQL window-min
    over the identical md5 hex-fold hashes."""
    docs = _t(spark, sf_dir, "documents").filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    return dedup.winnow_fingerprints(
        docs, id_col="doc_id", text_col="text", k=5, w=4, hasher="md5"
    )


Q103_SQL = r"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
  FROM documents WHERE doc_id % 7 = 0
), idx AS (
  SELECT doc_id, n, greatest(length(n) - 4, 1) AS m,
         unnest(range(1, greatest(length(n) - 4, 1) + 1)) AS i
  FROM d
), sh AS (
  SELECT doc_id, m, i - 1 AS pos,
         ('0x' || substring(md5(substring(n, i, 5)), 1, 12))::BIGINT AS h
  FROM idx
), wmin AS (
  SELECT doc_id, m, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
  FROM sh
)
SELECT DISTINCT doc_id, minh FROM wmin WHERE pos <= m - 4 OR pos = 0
"""


def q46_dissolve_area(spark, sf_dir):
    """Geometric dissolve (ST_UNION GROUP BY, A6/A7) through the real
    scanline union kernel: per brand, heavily-overlapping axis-aligned
    boxes sharing one y-band. The oracle reduces the union area to a 1D
    interval-union (gaps-and-islands SQL) x band height. All coordinates
    are integers, so both engines produce the exact same integer area."""
    from pda_spark.operators import dissolve as dissolve_op

    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(3)) == 0)
    boxes = p.select(
        F.col("p_brand"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(1000))).cast("double").alias("x0"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(1000)) + F.pmod(F.col("p_size"), F.lit(40)) + 1)
        .cast("double")
        .alias("x1"),
        (F.substring("p_brand", 7, 1).cast("int") % 3 + 1).cast("double").alias("h"),
    )
    boxes = boxes.withColumn("geom", _mk_box(F.col("x0"), F.lit(0.0), F.col("x1"), F.col("h")))
    out = dissolve_op.dissolve(boxes, key="p_brand", geom="geom")
    return out.select(
        F.col("featureclass").alias("brand"),
        F.col("union_area").cast("long").alias("union_area"),
    )


Q46_SQL = """
WITH boxes AS (
  SELECT p_brand AS brand,
         (p_partkey * 13) % 1000 AS x0,
         (p_partkey * 13) % 1000 + (p_size % 40) + 1 AS x1,
         (CAST(substring(p_brand, 7, 1) AS INT) % 3) + 1 AS h
  FROM part WHERE p_partkey % 3 = 0
), marked AS (
  SELECT brand, x0, x1, h,
         CASE WHEN x0 > coalesce(max(x1) OVER (PARTITION BY brand ORDER BY x0, x1
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_new
  FROM boxes
), grp AS (
  SELECT *, sum(is_new) OVER (PARTITION BY brand ORDER BY x0, x1 ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), islands AS (
  SELECT brand, any_value(h) AS h, max(x1) - min(x0) AS len FROM grp GROUP BY brand, g
)
SELECT brand, CAST(sum(len * h) AS BIGINT) AS union_area FROM islands GROUP BY brand
"""


def q47_coverage_pct(spark, sf_dir):
    """The reference coverage query (A7/J7/F6) through the REAL
    cell-partitioned operator: per brand, % of the class-union covered by
    the image-union. Class boxes and image boxes share one integer y-band
    per brand, so the oracle reduces both unions to 1D interval islands
    and intersects them in SQL; areas are exact integers in both engines,
    making round(100*num/den, 3) bit-identical."""
    from pda_spark.operators import dissolve as dissolve_op

    # integer coordinates inside the lon/lat domain ([0,158] x [0,3]):
    # cell boundaries at res=3 are integers too, so every per-cell clip
    # keeps integer corners and both engines' areas are exact integers
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(5)) == 0)
    h = (F.substring("p_brand", 7, 1).cast("int") % 3 + 1).cast("double")
    cls = p.select(
        F.col("p_brand").alias("featureclass"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(150))).cast("double").alias("x0"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(150)) + F.pmod(F.col("p_size"), F.lit(8)) + 1)
        .cast("double")
        .alias("x1"),
        h.alias("h"),
    )
    cls = cls.withColumn("geom", _mk_box(F.col("x0"), F.lit(0.0), F.col("x1"), F.col("h")))
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(257)) == 0)
    img = o.select(
        (F.pmod(F.col("o_orderkey") * 7, F.lit(150))).cast("double").alias("ix0"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(150)) + F.pmod(F.col("o_orderkey"), F.lit(4)) + 1)
        .cast("double")
        .alias("ix1"),
    )
    # images span every band (y 0..3 covers all brand heights 1..3)
    img = img.withColumn("geom", _mk_box(F.col("ix0"), F.lit(0.0), F.col("ix1"), F.lit(3.0)))
    out = dissolve_op.coverage(cls.select("featureclass", "geom"), img.select("geom"), res=3)
    return out.select(F.col("featureclass").alias("brand"), "coverage_percentage")


Q47_SQL = """
WITH cls AS (
  SELECT p_brand AS brand,
         (p_partkey * 13) % 150 AS x0,
         (p_partkey * 13) % 150 + (p_size % 8) + 1 AS x1,
         (CAST(substring(p_brand, 7, 1) AS INT) % 3) + 1 AS h
  FROM part WHERE p_partkey % 5 = 0
), img AS (
  SELECT (o_orderkey * 7) % 150 AS x0,
         (o_orderkey * 7) % 150 + (o_orderkey % 4) + 1 AS x1
  FROM orders WHERE o_orderkey % 257 = 0
), cmark AS (
  SELECT brand, x0, x1, h,
         CASE WHEN x0 > coalesce(max(x1) OVER (PARTITION BY brand ORDER BY x0, x1
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_new
  FROM cls
), cgrp AS (
  SELECT *, sum(is_new) OVER (PARTITION BY brand ORDER BY x0, x1 ROWS UNBOUNDED PRECEDING) AS g
  FROM cmark
), cisl AS (
  SELECT brand, any_value(h) AS h, min(x0) AS s, max(x1) AS e FROM cgrp GROUP BY brand, g
), imark AS (
  SELECT x0, x1,
         CASE WHEN x0 > coalesce(max(x1) OVER (ORDER BY x0, x1
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_new
  FROM img
), igrp AS (
  SELECT *, sum(is_new) OVER (ORDER BY x0, x1 ROWS UNBOUNDED PRECEDING) AS g FROM imark
), iisl AS (
  SELECT min(x0) AS s, max(x1) AS e FROM igrp GROUP BY g
), num AS (
  SELECT c.brand, sum((least(c.e, i.e) - greatest(c.s, i.s)) * c.h) AS num_area
  FROM cisl c JOIN iisl i ON c.s < i.e AND i.s < c.e
  GROUP BY c.brand
), den AS (
  SELECT brand, sum((e - s) * h) AS den_area FROM cisl GROUP BY brand
)
SELECT den.brand AS brand,
       -- round_even: the operator rounds like the reference (pandas
       -- .round = numpy half-to-even); integer coords make exact binary
       -- midpoints (e.g. 32.8125) reachable, where HALF_UP would differ
       round_even(100.0 * num_area / den_area, 3) AS coverage_percentage
FROM den JOIN num ON den.brand = num.brand
WHERE num_area > 0
"""


def q104_tile_pyramid(spark, sf_dir):
    """Multi-zoom tile-pyramid rollup (the slippy-map aggregation a
    tiling backend serves at every zoom — reference renders per-tile
    heat layers, /root/reference/app/maps.py): event points aggregate
    ONCE at zoom 8, then the per-cell table rolls up zooms 4..8 through
    pure Catalyst bit shifts (ix >> (8 - z)). The oracle replays the
    shifts on the identical clamped child indices — exact because the
    grids nest (floor(floor(v*256)/2^k) == floor(v*2^(8-k)))."""
    from pda_spark.operators import tiling

    res = 8
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pyr = tiling.tile_pyramid(cnt, res=res, min_res=4)
    return pyr.select("zoom", "tx", "ty", F.col("n").alias("n_points"))


Q104_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
c AS (
  SELECT {_Q94_IX} AS ix8,
         {_Q94_IY} AS iy8,
         count(*) AS n
  FROM pts GROUP BY 1, 2
)
SELECT zoom, ix8 >> (8 - zoom) AS tx, iy8 >> (8 - zoom) AS ty,
       CAST(sum(n) AS BIGINT) AS n_points
FROM c CROSS JOIN (VALUES (4), (5), (6), (7), (8)) AS z(zoom)
GROUP BY 1, 2, 3
"""


def q105_geohash(spark, sf_dir):
    """Geohash encode (the public base-32 cell index every geo stack
    speaks) — pure Catalyst: quantize, Morton interleave (shared magic-
    mask table, the q94 discipline), base-32 chars via an array-literal
    lookup. Precisions 6 and 8 exercise both bit widths; the oracle is
    generated from the SAME constants by geo_udfs.geohash_sql."""
    pts = _event_points(spark, sf_dir).filter(F.pmod(F.col("event_id"), F.lit(23)) == 0)
    return pts.select(
        "event_id",
        geo_udfs.geohash_expr(F.col("lon"), F.col("lat"), 6).alias("gh6"),
        geo_udfs.geohash_expr(F.col("lon"), F.col("lat"), 8).alias("gh8"),
    )


Q105_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL})
SELECT event_id,
       {geo_udfs.geohash_sql('lon', 'lat', 6)} AS gh6,
       {geo_udfs.geohash_sql('lon', 'lat', 8)} AS gh8
FROM pts WHERE event_id % 23 = 0
"""


# Areal-interpolation zones: every coordinate is a multiple of 0.5 and no
# edge lies on a res-5 cell boundary (multiples of 11.25 / 5.625), so the
# whole clip -> shoelace -> divide chain is EXACT binary arithmetic in
# both engines and floor-scaled integers cannot straddle a rounding edge.
ZONES = [
    (0, -16.5, 37.5, -4.0, 46.0, 1200),
    (1, -6.0, 40.5, 7.5, 51.0, 800),
    (2, 3.0, 43.5, 14.5, 57.0, 1500),
    (3, 9.5, 36.5, 19.0, 49.5, 700),
    (4, -12.0, 50.0, 2.5, 60.5, 950),
]


def q106_areal_interp(spark, sf_dir):
    """Areal-weighted interpolation (GIS population transfer): zone
    values redistribute onto the res-5 grid by exact overlap-area share
    through the REAL clip machinery (Sutherland-Hodgman against cell
    boxes + scanline area). Per-(zone, cell) scalar rows (the q81 rule);
    weights/contributions emitted as floor-scaled integers (the
    CLAUDE.md half-way rule) — exact here because the fixture keeps
    every coordinate binary-exact (see ZONES note)."""
    from pda_spark.operators import tiling

    zones = spark.createDataFrame(
        [(z[0], z[5], bytearray(W.box(z[1], z[2], z[3], z[4]))) for z in ZONES],
        "zone_id int, pop int, geom binary",
    )
    out = tiling.areal_interpolate(zones, res=5, zone_id="zone_id", value_col="pop", geom="geom")
    return out.select(
        "zone_id",
        "cell",
        F.floor(F.col("weight") * 1000000.0).cast("long").alias("weight_ppm"),
        F.floor(F.col("contribution") * 100.0).cast("long").alias("contrib_cents"),
    )


Q106_SQL = f"""
WITH z AS (
  SELECT * FROM (VALUES {', '.join(f'({z[0]}, {z[1]}, {z[2]}, {z[3]}, {z[4]}, {z[5]})' for z in ZONES)})
    AS t(zone_id, minx, miny, maxx, maxy, pop)
), gx AS (
  SELECT *, unnest(range(CAST(floor((minx + 180.0) / 360.0 * 32) AS BIGINT),
                         CAST(floor((maxx + 180.0) / 360.0 * 32) AS BIGINT) + 1)) AS ix
  FROM z
), gxy AS (
  SELECT *, unnest(range(CAST(floor((miny + 90.0) / 180.0 * 32) AS BIGINT),
                         CAST(floor((maxy + 90.0) / 180.0 * 32) AS BIGINT) + 1)) AS iy
  FROM gx
), ov AS (
  SELECT zone_id, pop, ix, iy,
         greatest(least(maxx, -180.0 + (ix + 1) * 11.25) - greatest(minx, -180.0 + ix * 11.25), 0) AS ow,
         greatest(least(maxy, -90.0 + (iy + 1) * 5.625) - greatest(miny, -90.0 + iy * 5.625), 0) AS oh,
         (maxx - minx) * (maxy - miny) AS zarea
  FROM gxy
)
SELECT zone_id, (5::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell,
       CAST(floor((ow * oh / zarea) * 1000000.0) AS BIGINT) AS weight_ppm,
       CAST(floor(pop * (ow * oh / zarea) * 100.0) AS BIGINT) AS contrib_cents
FROM ov WHERE ow > 0 AND oh > 0
"""


def q107_edit_distance(spark, sf_dir):
    """Edit-distance near-duplicate pairs (fuzzy string matching as a
    JOIN): derived key strings 'k' || (c_custkey*7 % 100000) have varied
    lengths 2-6, so the lossless length-band blocking in
    dedup.edit_distance_pairs actually spreads candidates over bands;
    the verify is the JVM levenshtein expression; salt_bands=4 runs the
    hot-band salted plan (numeric keys concentrate in one length band —
    the realistic skew), which must emit the identical pair set. The
    oracle brute-forces the cross product — the blocked+salted path must
    reproduce the exhaustive semantics exactly (DuckDB and Spark
    levenshtein are the same textbook unit-cost edit distance). The %7
    sample keeps the oracle's n^2 and the hot band bounded at sf0.1."""
    c = _t(spark, sf_dir, "customer").filter(F.pmod(F.col("c_custkey"), F.lit(7)) == 0)
    strs = c.select(
        F.col("c_custkey").alias("sid"),
        F.concat(F.lit("k"), F.pmod(F.col("c_custkey") * 7, F.lit(100000)).cast("string")).alias("s"),
    )
    pairs = dedup.edit_distance_pairs(strs, id_col="sid", str_col="s", max_dist=1, salt_bands=4)
    return pairs.select("id_a", "id_b", "s_a", "s_b", "dist")


Q107_SQL = """
WITH s AS (
  SELECT c_custkey AS sid, 'k' || CAST((c_custkey * 7) % 100000 AS VARCHAR) AS s
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT a.sid AS id_a, b.sid AS id_b, a.s AS s_a, b.s AS s_b,
       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
FROM s a JOIN s b ON a.sid < b.sid AND levenshtein(a.s, b.s) <= 1
"""


def q108_focal_gradient(spark, sf_dir):
    """Central-difference raster gradient (GIS slope/aspect primitive,
    the q87 scatter-gather shape): per-cell counts emit +v/-v to their
    four axis neighbors' difference sums plus a presence flag, one
    grouped sum, integer-exact dzdx/dzdy/slope_sq. Absent neighbors
    contribute 0 (sparse-raster convention); only cells that CARRY a
    value are emitted (presence filter)."""
    from pda_spark.operators import tiling

    res = 6
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tiling.focal_gradient(cnt, res=res)


Q108_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
), sc AS (
  SELECT ix + dx AS rix, iy + dy AS riy, n * wx AS gx, n * wy AS gy, p
  FROM cnt
  CROSS JOIN (VALUES (-1, 0, 1, 0, 0), (1, 0, -1, 0, 0),
                     (0, -1, 0, 1, 0), (0, 1, 0, -1, 0),
                     (0, 0, 0, 0, 1)) AS o(dx, dy, wx, wy, p)
  WHERE ix + dx BETWEEN 0 AND {_N6 - 1} AND iy + dy BETWEEN 0 AND {_N6 - 1}
)
SELECT (6::BIGINT * 288230376151711744 + (rix << 29) + riy) AS cell,
       CAST(sum(gx) AS BIGINT) AS dzdx,
       CAST(sum(gy) AS BIGINT) AS dzdy,
       CAST(sum(gx) * sum(gx) + sum(gy) * sum(gy) AS BIGINT) AS slope_sq
FROM sc GROUP BY rix, riy HAVING sum(p) > 0
"""


_N7 = 1 << 7


def q109_morans_i(spark, sf_dir):
    """Global Moran's I spatial autocorrelation over the res-7 event
    grid (binary queen weights among occupied cells). All four
    components are order-independent INTEGER sums (d_i = m*x_i - S keeps
    the deviation integral); the assembled statistic is one exact
    integer ratio, so both engines produce the identical double. The
    oracle uses a genuinely different algorithm — an inequality
    self-join on |dix|<=1, |diy|<=1 — against Spark's scatter-gather
    equi-join, so the pair set itself is cross-checked."""
    from pda_spark.operators import tiling

    res = 7
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tiling.morans_i_components(cnt, res=res)


Q109_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
), tot AS (
  SELECT count(*) AS m, CAST(sum(n) AS BIGINT) AS s FROM cnt
), dev AS (
  SELECT ix, iy, m * n - s AS d, m FROM cnt CROSS JOIN tot
), pairs AS (
  SELECT a.d AS di, b.d AS dj
  FROM dev a JOIN dev b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1
   AND NOT (a.ix = b.ix AND a.iy = b.iy)
)
SELECT (SELECT m FROM tot) AS m_cells,
       (SELECT count(*) FROM pairs) AS w_pairs,
       (SELECT CAST(sum(di * dj) AS BIGINT) FROM pairs) AS num_scaled,
       (SELECT CAST(sum(d * d) AS BIGINT) FROM dev) AS den_scaled,
       CAST((SELECT m FROM tot) * (SELECT CAST(sum(di * dj) AS BIGINT) FROM pairs) AS DOUBLE)
         / CAST((SELECT count(*) FROM pairs) * (SELECT CAST(sum(d * d) AS BIGINT) FROM dev) AS DOUBLE)
         AS morans_i
"""


def q110_paragraph_dedup(spark, sf_dir):
    """Global first-occurrence paragraph dedup (RefinedWeb/C4-family
    corpus step): every 5th doc gets a shared promo paragraph appended
    and every 11th doc REPEATS its own first line, so the fixture
    exercises cross-doc dedup (only the lowest (doc_id, pos) keeps the
    promo), within-doc repeats, and the line kept-in-first-doc rule.
    The oracle replays the min-owner rule with a row_number window —
    a different mechanism than Spark's min(struct) aggregate."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(11)) == 0,
                F.concat(F.lit("\n"), F.substring_index(F.col("text"), "\n", 1)),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                F.lit("\nSubscribe to our newsletter today"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = dedup.dedup_paragraphs_global(injected)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_fp"), "n_kept", "n_removed"
    )


Q110_SQL = """
WITH d AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 11 = 0
                 THEN chr(10) || string_split(text, chr(10))[1] ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'Subscribe to our newsletter today' ELSE '' END
           AS t
  FROM documents
), sp AS (
  SELECT doc_id, string_split(t, chr(10)) AS ls FROM d
), ll AS (
  SELECT doc_id, unnest([{'pos': i - 1, 'para': ls[i]} for i in range(1, len(ls) + 1)]) AS e
  FROM sp
), paras AS (
  SELECT doc_id, e.pos AS pos, e.para AS para FROM ll
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM paras
)
SELECT doc_id,
       md5(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos)) AS clean_fp,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM ranked
GROUP BY doc_id
"""


def q112_inverted_index(spark, sf_dir):
    """Positional inverted index over the documents corpus (the
    retrieval-side counterpart of q102 TF-IDF / q81 BM25): per-(term,
    doc) posting rows with tf, df, and the ordered token-position list.
    The oracle replays tokenization (regexp split, empty-token filter)
    and rebuilds positions with a list comprehension + ordered
    string_agg — the q75 reassembly idiom, here over token offsets."""
    docs = _t(spark, sf_dir, "documents")
    out = text.inverted_index(docs)
    # sample the term space to keep the gate row count civil
    return out.filter(F.length("term") >= 6)


Q112_SQL = r"""
WITH toks AS (
  SELECT doc_id, ls FROM (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ls FROM documents
  )
), tl AS (
  SELECT doc_id, unnest([{'pos': i - 1, 'term': ls[i]} for i in range(1, len(ls) + 1)]) AS e
  FROM toks
), t AS (
  SELECT doc_id, e.pos AS pos, e.term AS term FROM tl WHERE e.term <> ''
), postings AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
         string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
  FROM t GROUP BY term, doc_id
), dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
)
SELECT p.term, p.doc_id, p.tf, d.df, p.positions
FROM postings p JOIN dfs d USING (term)
WHERE length(p.term) >= 6
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


def q114_density_clusters(spark, sf_dir):
    """Grid-density clustering (DBSCAN-on-a-grid hot spots): res-6 event
    cells with >= 15 points are dense; queen-adjacent dense cells merge
    via the large-star/small-star connected-components rounds; label =
    min member cell id. The oracle computes the SAME components by a
    completely different mechanism — a recursive-CTE transitive closure
    with a min over reachable cells — so the O(log n) star contraction
    is cross-checked against textbook reachability."""
    from pda_spark.operators import tiling

    res = 6
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tiling.density_clusters(cnt, res=res, min_pts=15)


Q114_SQL = f"""
WITH RECURSIVE pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
), dense AS (
  SELECT (6::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell,
         CAST(n AS BIGINT) AS n, ix, iy
  FROM cnt WHERE n >= 15
), e AS (
  SELECT a.cell AS ca, b.cell AS cb
  FROM dense a JOIN dense b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1 AND a.cell <> b.cell
), reach(cell, r) AS (
  SELECT cell, cell FROM dense
  UNION
  SELECT e.ca, reach.r FROM e JOIN reach ON e.cb = reach.cell
)
SELECT d.cell, d.n, m.cluster_id
FROM dense d JOIN (SELECT cell, min(r) AS cluster_id FROM reach GROUP BY cell) m
  USING (cell)
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


def q116_pagerank(spark, sf_dir):
    """Bounded-iteration PageRank over a deterministic 4-out-degree link
    graph derived from doc ids (stride s_j = j + 4*(h_j mod M), j=1..4:
    strides are distinct mod 4 and < N, so every node has exactly 4
    distinct non-self out-links). Pinned at damping=0.5 / out-degree 4 /
    3 iterations so every intermediate is an exact dyadic rational —
    IEEE addition is associative for these values and the unrolled-CTE
    oracle replays the floats bit-for-bit in any order. N and M ride a
    broadcast one-row scalar (no driver collect)."""
    from pda_spark.functions import graph

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    d = docs.crossJoin(F.broadcast(n)).withColumn("_m", F.expr("(_n - 1) div 4"))
    e = d.select(
        "doc_id", "_n", "_m", F.explode(F.array(*[F.lit(j) for j in (1, 2, 3, 4)])).alias("j")
    ).select(
        F.col("doc_id").alias("src"),
        F.pmod(
            F.col("doc_id")
            + F.col("j")
            + F.lit(4)
            * F.pmod(
                F.pmod(F.col("doc_id") * 1000003 + F.col("j") * 7919, F.lit(2147483647)),
                F.col("_m"),
            ),
            F.col("_n"),
        ).alias("dst"),
    )
    pr = graph.pagerank(docs.select(F.col("doc_id").alias("id")), e, iters=3, damping=0.5)
    return pr.select(F.col("id").alias("doc_id"), F.col("rank").alias("pr_rank"))


def _pagerank_sql(iters: int = 3) -> str:
    """Unrolled one-CTE-pair-per-iteration oracle (the q111 per-level
    CTE idiom): c_k = in-neighbor rank sums, r_k = 0.5 + 0.125 * s
    (engine computes 0.5 * sum(r/4) — equal exactly, every value is an
    exact dyadic rational at damping 0.5 / out-degree 4)."""
    parts = [
        "WITH nn AS (SELECT count(*)::BIGINT AS n, ((count(*) - 1) // 4)::BIGINT AS m FROM documents),",
        "e AS (",
        "  SELECT d.doc_id AS src,",
        "         ((d.doc_id + js.j + 4 * (((d.doc_id * 1000003 + js.j * 7919) % 2147483647) % nn.m)) % nn.n) AS dst",
        "  FROM documents d CROSS JOIN nn CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j) js",
        "),",
        "r0 AS (SELECT doc_id, 1.0::DOUBLE AS r FROM documents)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f", c{k} AS (SELECT e.dst AS doc_id, sum(p.r) AS s"
            f" FROM e JOIN r{k - 1} p ON p.doc_id = e.src GROUP BY e.dst)"
        )
        parts.append(
            f", r{k} AS (SELECT d.doc_id, 0.5::DOUBLE + 0.125::DOUBLE * coalesce(c{k}.s, 0.0::DOUBLE) AS r"
            f" FROM documents d LEFT JOIN c{k} USING (doc_id))"
        )
    parts.append(f"SELECT doc_id, r AS pr_rank FROM r{iters}")
    return "\n".join(parts)


Q116_SQL = _pagerank_sql(3)


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
        geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res).alias("cell"),
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


def q118_cooccurrence(spark, sf_dir):
    """Term co-occurrence matrix with integer-ratio df/pair thresholds
    (PMI count side): per-doc distinct term sets, df floor 5 with no
    ceiling (this corpus has a 31-term vocabulary — the df-cap
    parameter is exercised by pytest), pairs kept when they co-occur in
    >= 60% of docs (n_ab * 5 >= 3 * N — SF-robust, exact, and the
    filter provably bites: 427 of 465 raw pairs survive at sf0.01)."""
    docs = _t(spark, sf_dir, "documents")
    return text.term_cooccurrence(
        docs, min_df=5, max_df_num=1, max_df_den=1, min_pair_num=3, min_pair_den=5
    )


Q118_SQL = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents)
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), kept AS (
  SELECT tok, df FROM dfreq CROSS JOIN n WHERE df >= 5 AND df * 1 <= 1 * n_docs
), t AS (
  SELECT toks.doc_id, toks.tok FROM toks JOIN kept USING (tok)
), p AS (
  SELECT a.tok AS term_a, b.tok AS term_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
)
SELECT term_a, term_b, n_ab, ka.df AS df_a, kb.df AS df_b
FROM p CROSS JOIN n
JOIN kept ka ON ka.tok = p.term_a
JOIN kept kb ON kb.tok = p.term_b
WHERE n_ab * 5 >= 3 * n_docs
"""


_HLL_P = 8
_HLL_B = 48 - _HLL_P                      # remaining hash bits
_HLL_MASK = (1 << _HLL_B) - 1
_HLL_M = 1 << _HLL_P
# the combined estimator constant alpha_m * m^2 * 2^(B+1), computed ONCE
# here with a fixed op order and repr-embedded into the SQL twin so both
# engines parse the identical double literal
_HLL_NUM = 0.7213 / (1.0 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * float(1 << (_HLL_B + 1))


def q121_hll_registers(spark, sf_dir):
    """HyperLogLog register table (p=8) for distinct l_orderkey — the
    mergeable distinct-count sketch as a relational op: register = top
    8 bits of the 48-bit md5 fold, max_rho = leading-zero rank of the
    remaining 40 bits via bin()-length bit math. Every cell is an
    integer max — order-independent, engine-portable, and map-side
    combinable (the property that makes this the 100 TB distinct-count
    tool: one pass, 256 rows of state)."""
    li = _t(spark, sf_dir, "lineitem")
    return sketch.hll_registers(li, "l_orderkey", p=_HLL_P)


Q121_SQL = f"""
WITH h AS (
  SELECT ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM lineitem
)
SELECT h >> {_HLL_B} AS register,
       CAST(max(CASE WHEN (h & {_HLL_MASK}) = 0 THEN {_HLL_B + 1}
                     ELSE {_HLL_B + 1} - length(bin(h & {_HLL_MASK})) END) AS BIGINT)
         AS max_rho
FROM h GROUP BY 1
"""


def q122_hll_estimate(spark, sf_dir):
    """HLL cardinality estimate assembled from the q121 register table:
    s_scaled = sum 2^(B+1-rho) keeps the harmonic sum an exact integer;
    the single float op is repr-shared-constant / exact-integer-cast
    division, so both engines emit the identical double (the q119
    fixed-op-sequence discipline)."""
    li = _t(spark, sf_dir, "lineitem")
    regs = sketch.hll_registers(li, "l_orderkey", p=_HLL_P)
    return sketch.hll_estimate(regs, p=_HLL_P)


Q122_SQL = f"""
WITH regs AS ({Q121_SQL}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_occupied,
         CAST(sum(1::BIGINT << ({_HLL_B + 1} - max_rho)) AS BIGINT) AS s_scaled
  FROM regs
)
SELECT {_HLL_M}::BIGINT AS m_registers, n_occupied, s_scaled,
       {_HLL_NUM!r}
         / CAST(s_scaled + ({_HLL_M} - n_occupied) * {1 << (_HLL_B + 1)} AS DOUBLE)
         AS estimate
FROM agg
"""


def q132_profile(spark, sf_dir):
    """Per-column profile of orders (n_rows / n_null / n_distinct):
    distinct counts go through an injective-per-engine string cast, so
    only the COUNTS cross engines, never the formatted values. Sorted
    output by column name is irrelevant — the driver compares
    order-insensitively."""
    from pda_spark.functions import profiling

    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    return profiling.profile_table(o, columns=cols)


Q132_SQL = """
SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT CAST(o_orderkey AS VARCHAR)) AS BIGINT) AS n_distinct
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CAST(o_custkey AS VARCHAR)) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CAST(o_orderstatus AS VARCHAR)) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CAST(o_totalprice AS VARCHAR)) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CAST(o_orderdate AS VARCHAR)) AS BIGINT)
FROM orders
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
        geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res).alias("cell"),
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


def q130_skyline(spark, sf_dir):
    """3-criteria skyline over parts: cheapest price (min) vs largest
    size (max) vs most-ordered quantity (max). Spark runs the two-phase
    local-frontier algorithm; the oracle is the textbook NOT EXISTS
    dominance query — the Pareto SET is unique, so any correct
    algorithm matches it exactly. qty is an integer sum (order-
    independent); price/size pass through unchanged from the scan."""
    from pda_spark.operators import pareto

    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    agg = (
        p.join(li, p["p_partkey"] == li["l_partkey"], "left")
        .groupBy("p_partkey", "p_retailprice", "p_size")
        .agg(F.coalesce(F.sum("l_quantity"), F.lit(0)).cast("long").alias("qty"))
    )
    return pareto.skyline(agg, minimize=["p_retailprice"], maximize=["p_size", "qty"])


Q130_SQL = """
WITH agg AS (
  SELECT p.p_partkey, p.p_retailprice, p.p_size,
         CAST(coalesce(sum(l.l_quantity), 0) AS BIGINT) AS qty
  FROM part p LEFT JOIN lineitem l ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2, 3
)
SELECT * FROM agg a
WHERE NOT EXISTS (
  SELECT 1 FROM agg b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND b.qty >= a.qty
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size
         OR b.qty > a.qty))
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


def q127_triangles(spark, sf_dir):
    """Per-node triangle counts over the co-purchase graph (parts are
    adjacent when some order contains both). Spark runs the
    degree-ordered orientation (wedges only at the low-rank apex — the
    skew-safe shape); the oracle counts the same triangles with the
    id-ordered a<b<c 3-way self-join — two genuinely different
    algorithms, identical per-node integers."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    # broadcast_close: the oriented co-purchase edge list is ~1.2M rows
    # at sf0.1 (parts dimension), far under executor memory — the 41M
    # wedge stream then never shuffles. At part-counts beyond broadcast
    # the default shuffle-close shape is the one to use.
    return graph.triangle_counts(edges, broadcast_close=True)


Q127_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT id, CAST(count(*) AS BIGINT) AS n_tri
FROM (SELECT a AS id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY id
"""


def q125_cms_build(spark, sf_dir):
    """Count-min sketch table (d=4, w=64) over the l_suppkey stream —
    the frequency sibling of the q121 HLL: d*w integer counters from
    one map-side-combinable grouped count, mergeable by union+re-sum.
    Hash seeds fold into the hashed string so both engines' md5 agree
    byte-for-byte."""
    li = _t(spark, sf_dir, "lineitem")
    return sketch.cms_build(li, "l_suppkey", d=4, w=64)


Q125_SQL = """
WITH t AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS v FROM lineitem
), x AS (
  SELECT r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || v), 1, 12))::BIGINT % 64
           AS bucket
  FROM t, unnest(generate_series(0, 3)) AS s(r)
)
SELECT r AS hrow, bucket, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY 1, 2
"""


def q126_cms_estimates(spark, sf_dir):
    """Point-frequency estimates for every supplier key from the q125
    sketch: est = min over the 4 hash rows of the landed counter. The
    CMS overestimate guarantee (est >= true count) is asserted by
    pytest; the gate replays the exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    cms = sketch.cms_build(li, "l_suppkey", d=4, w=64)
    return sketch.cms_query(cms, sup, "s_suppkey", d=4, w=64)


Q126_SQL = f"""
WITH cms AS ({Q125_SQL}),
probes AS (
  SELECT s_suppkey AS item, r AS hrow,
         ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || CAST(s_suppkey AS VARCHAR)), 1, 12))::BIGINT % 64
           AS bucket
  FROM supplier, unnest(generate_series(0, 3)) AS s(r)
)
SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
FROM probes LEFT JOIN cms USING (hrow, bucket)
GROUP BY item
"""


def q123_hausdorff(spark, sf_dir):
    """Symmetric discrete Hausdorff distance between user trajectories
    (users with id % 30 == 0; all ordered pairs within the subset as
    the explicit candidate set — the operator's blocking stays with the
    caller). hausdorff_sq is a min/max lattice over per-pair fixed
    IEEE squared distances, so no sum ordering exists to diverge and
    both engines emit identical doubles."""
    from pda_spark.operators import temporal

    pts = _event_points(spark, sf_dir).filter(F.pmod(F.col("user_id"), F.lit(30)) == 0)
    traj = pts.select(
        F.col("user_id").alias("k"), F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    keys = traj.select("k").distinct()
    pairs = keys.select(F.col("k").alias("key_a")).join(
        keys.select(F.col("k").alias("key_b")), F.col("key_a") < F.col("key_b")
    )
    return temporal.hausdorff_join(traj, pairs, key_col="k", x_col="x", y_col="y")


Q123_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
p AS (
  SELECT user_id AS k, lon AS x, lat AS y FROM pts WHERE user_id % 30 = 0
), ks AS (
  SELECT DISTINCT k FROM p
), prs AS (
  SELECT a.k AS key_a, b.k AS key_b FROM ks a JOIN ks b ON a.k < b.k
), cr AS (
  SELECT pr.key_a, pr.key_b, pa.x AS xa, pa.y AS ya, pb.x AS xb, pb.y AS yb,
         (pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y) AS d2
  FROM prs pr
  JOIN p pa ON pa.k = pr.key_a
  JOIN p pb ON pb.k = pr.key_b
), hab AS (
  SELECT key_a, key_b, max(m) AS hab FROM (
    SELECT key_a, key_b, xa, ya, min(d2) AS m FROM cr GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2
), hba AS (
  SELECT key_a, key_b, max(m) AS hba FROM (
    SELECT key_a, key_b, xb, yb, min(d2) AS m FROM cr GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2
)
SELECT key_a, key_b, greatest(hab, hba) AS hausdorff_sq
FROM hab JOIN hba USING (key_a, key_b)
"""


def q124_dbscan(spark, sf_dir):
    """Point-level DBSCAN (eps=0.3, min_pts=10) over a derived point
    set with real cluster structure: each user contributes a tight blob
    (side 0.2 — a full eps-clique, diameter 0.283 < eps) around a
    user-determined integer center >= 1.0 from its neighbors, and every
    50th event is a scatter point — so cores, borders AND noise all
    occur at every SF. All coordinate arithmetic is the same fixed
    float op sequence in both engines (the _event_points discipline);
    the oracle re-derives the full algorithm with a recursive-CTE
    reachability closure against Spark's large-star/small-star CC."""
    from pda_spark.operators import tiling

    ev = _t(spark, sf_dir, "events")
    is_scatter = F.pmod(F.col("event_id"), F.lit(50)) == 0
    bx = (
        F.pmod(F.col("user_id"), F.lit(40))
        + F.pmod(F.col("event_id") * 31, F.lit(21)) / 100.0
        - 0.1
    )
    by = (
        F.pmod(F.expr("user_id div 40"), F.lit(25))
        + F.pmod(F.col("event_id") * 57, F.lit(21)) / 100.0
        - 0.1
    )
    sx = F.pmod(F.col("event_id") * 97 + F.col("user_id") * 13, F.lit(4000)) / 100.0
    sy = F.pmod(F.col("event_id") * 41 + F.col("user_id") * 7, F.lit(2500)) / 100.0
    pts = ev.filter(F.pmod(F.col("user_id"), F.lit(3)) == 0).select(
        F.col("event_id").alias("id"),
        F.when(is_scatter, sx).otherwise(bx).alias("x"),
        F.when(is_scatter, sy).otherwise(by).alias("y"),
    )
    return tiling.dbscan(pts, eps=0.3, min_pts=10)


Q124_SQL = """
WITH RECURSIVE base AS (
  SELECT event_id AS id,
         CASE WHEN event_id % 50 = 0
           THEN (event_id * 97 + user_id * 13) % 4000 / 100.0
           ELSE (user_id % 40) + (event_id * 31) % 21 / 100.0 - 0.1 END AS x,
         CASE WHEN event_id % 50 = 0
           THEN (event_id * 41 + user_id * 7) % 2500 / 100.0
           ELSE (user_id // 40) % 25 + (event_id * 57) % 21 / 100.0 - 0.1 END AS y
  FROM events WHERE user_id % 3 = 0
), g AS (
  SELECT id, x, y,
         floor(x / 0.3)::BIGINT AS gx, floor(y / 0.3)::BIGINT AS gy
  FROM base
), nb AS (
  SELECT a.id AS ia, b.id AS ib
  FROM (SELECT id, x, y, gx + dx AS gx, gy + dy AS gy
        FROM g,
             unnest(generate_series(-1, 1)) AS t1(dx),
             unnest(generate_series(-1, 1)) AS t2(dy)) a
  JOIN g b ON a.gx = b.gx AND a.gy = b.gy
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.3 * 0.3
), deg AS (
  SELECT ia AS id, count(*) AS deg FROM nb GROUP BY 1
), core AS (
  SELECT id FROM deg WHERE deg >= 10
), ce AS (
  SELECT ia, ib FROM nb
  JOIN core ca ON ca.id = nb.ia
  JOIN core cb ON cb.id = nb.ib
  WHERE ia <> ib
), reach(id, r) AS (
  SELECT id, id FROM core
  UNION
  SELECT ce.ia, reach.r FROM ce JOIN reach ON ce.ib = reach.id
), core_lab AS (
  SELECT id, min(r) AS cl FROM reach GROUP BY id
), border_lab AS (
  SELECT nb.ia AS id, min(core_lab.cl) AS bl
  FROM nb JOIN core_lab ON core_lab.id = nb.ib
  GROUP BY 1
)
SELECT b.id, core_lab.id IS NOT NULL AS is_core,
       coalesce(core_lab.cl, border_lab.bl) AS cluster_id
FROM base b
LEFT JOIN core_lab ON core_lab.id = b.id
LEFT JOIN border_lab ON border_lab.id = b.id
"""


def q120_lm_coverage(spark, sf_dir):
    """Unigram-OOV + bigram-coverage stats per held-out doc against the
    md5-hash train split (the count-based perplexity proxy; q53's split,
    q72's integer-counts-only discipline). Vocabulary admits tokens
    with df >= 10% of train docs (integer ratio, SF-robust): the
    corpus's one rare token ('dup', ~5% df at every SF) drops out, so
    the OOV counter is provably exercised alongside n_bg_unseen."""
    docs = _t(spark, sf_dir, "documents")
    return text.lm_coverage(docs, min_df=1, min_df_num=1, min_df_den=10, train_pct=80)


Q120_SQL = r"""
WITH d AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS toks,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 < 80
           AS is_train
  FROM documents
), tr_tok AS (
  SELECT DISTINCT doc_id, unnest(toks) AS tok FROM d WHERE is_train
), ntr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_train FROM d WHERE is_train
), vocab AS (
  SELECT tok, 1 AS inv FROM tr_tok CROSS JOIN ntr
  GROUP BY tok, n_train
  HAVING count(*) >= 1 AND count(*) * 10 >= 1 * n_train
), tr_bg AS (
  SELECT DISTINCT toks[i] AS w1, toks[i + 1] AS w2, 1 AS seen
  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM d WHERE is_train)
), ho_tok AS (
  SELECT doc_id, unnest(toks) AS tok FROM d WHERE NOT is_train
), uni AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM ho_tok LEFT JOIN vocab v USING (tok)
  GROUP BY doc_id
), ho_bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM d WHERE NOT is_train)
), bg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN t.seen IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bg_unseen
  FROM ho_bg LEFT JOIN tr_bg t USING (w1, w2)
  GROUP BY doc_id
)
SELECT uni.doc_id, n_tok, n_oov,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(n_bg_unseen, 0) AS n_bg_unseen
FROM uni LEFT JOIN bg USING (doc_id)
"""


def q119_getis_ord(spark, sf_dir):
    """Local Getis-Ord Gi* hot-spot z-score per occupied res-7 event
    cell (binary queen weights including self). All per-cell components
    are order-independent integer sums and the assembled z replays a
    fixed IEEE op sequence, so both engines emit identical doubles. The
    oracle gathers each window with an inequality self-join (|dix|<=1
    AND |diy|<=1, self included) against Spark's scatter-gather
    equi-join — the window membership itself is cross-checked by a
    different algorithm (the q109 pattern)."""
    from pda_spark.operators import tiling

    res = 7
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tiling.getis_ord_components(cnt, res=res)


Q119_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS iy,
         CAST(count(*) AS BIGINT) AS x
  FROM pts GROUP BY 1, 2
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sx2
  FROM cnt
), win AS (
  SELECT a.ix, a.iy, a.x,
         CAST(count(*) AS BIGINT) AS w_nbrs,
         CAST(sum(b.x) AS BIGINT) AS wx_sum
  FROM cnt a JOIN cnt b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1
  GROUP BY 1, 2, 3
)
SELECT (7::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell,
       x, w_nbrs, wx_sum,
       m * wx_sum - sx * w_nbrs AS num_scaled,
       CASE WHEN m >= 2 AND m * w_nbrs - w_nbrs * w_nbrs > 0 THEN
         CAST(m * wx_sum - sx * w_nbrs AS DOUBLE)
         / sqrt(CAST(m * sx2 - sx * sx AS DOUBLE)
                * CAST(m * w_nbrs - w_nbrs * w_nbrs AS DOUBLE)
                / CAST(m - 1 AS DOUBLE))
       END AS gi_z
FROM win CROSS JOIN tot
"""


def q111_hilbert(spark, sf_dir):
    """Hilbert-curve layout key (the stronger sibling of the q94
    Z-order: consecutive keys are always grid-adjacent, so row-group
    bboxes are strictly tighter). Event points -> res-7 grid coords ->
    the classic xy2d bit loop unrolled as a Catalyst projection chain;
    the oracle replays the IDENTICAL level chain as DuckDB CTEs
    generated from the same loop (geo_udfs.hilbert_sql)."""
    res = 7
    pts = _event_points(spark, sf_dir).filter(F.pmod(F.col("event_id"), F.lit(17)) == 0)
    cell = geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res)
    mask = (1 << 29) - 1
    df = pts.select(
        "event_id",
        F.shiftright(cell, 29).bitwiseAND(F.lit(mask)).alias("gx"),
        cell.bitwiseAND(F.lit(mask)).alias("gy"),
    )
    out = geo_udfs.hilbert_key(df, "gx", "gy", res)
    return out.select("event_id", "gx", "gy", "hilbert_d")


_Q111_SRC = f"""
SELECT event_id,
       least(greatest(floor((lon + 180.0) / 360.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS gx,
       least(greatest(floor((lat + 90.0) / 180.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS gy
FROM ({_EVENT_POINTS_SQL})
WHERE event_id % 17 = 0
"""

Q111_SQL = geo_udfs.hilbert_sql(_Q111_SRC, ["event_id", "gx", "gy"], "gx", "gy", 7)


# ============================================================ registry


# ------------------------------------------------------------- r6c gates

_BLOOM_K, _BLOOM_M = 3, 512


def _bloom_vals(spark, sf_dir):
    """100-key build set (p_partkey < 300, divisible by 3) — small
    enough that the 512-bit filter stays ~40% occupied (meaningful
    false-positive behavior instead of saturation)."""
    p = _t(spark, sf_dir, "part")
    return p.filter((F.col("p_partkey") < 300) & (F.pmod(F.col("p_partkey"), F.lit(3)) == 0))


def q133_bloom_bits(spark, sf_dir):
    """Bloom filter bit table (k=3, m=512) — the MEMBERSHIP sketch
    completing the relational sketch family beside HLL q121
    (cardinality) and CMS q125 (frequency): at most m rows, merged by
    union+DISTINCT, built in one explode + one DISTINCT with the CMS
    'i:<value>' md5-fold seeding, so the oracle replays every set bit
    exactly (sketch.bloom_build)."""
    return sketch.bloom_build(_bloom_vals(spark, sf_dir), "p_partkey", k=_BLOOM_K, m=_BLOOM_M)


_BLOOM_VALS_SQL = "SELECT p_partkey FROM part WHERE p_partkey < 300 AND p_partkey % 3 = 0"
_BLOOM_HASHES = "(VALUES (0), (1), (2)) AS h(hidx)"

Q133_SQL = f"""
SELECT DISTINCT
  ('0x' || substring(md5(hidx::VARCHAR || ':' || p_partkey::VARCHAR), 1, 12))::BIGINT
    % {_BLOOM_M} AS pos
FROM ({_BLOOM_VALS_SQL}) CROSS JOIN {_BLOOM_HASHES}
"""


def q134_bloom_probe(spark, sf_dir):
    """Membership probes (300 items: the 100 built keys + 200 absent)
    against the q133 bit table — maybe_present iff ALL k positions are
    set. No false negatives by construction; the handful of false
    POSITIVES are replayed bit-for-bit by the oracle (same bit table,
    same hashes), so even the sketch's error is gate-checked."""
    bloom = sketch.bloom_build(_bloom_vals(spark, sf_dir), "p_partkey", k=_BLOOM_K, m=_BLOOM_M)
    items = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 300)
        .select(F.col("p_partkey").cast("long").alias("probe_key"))
    )
    return sketch.bloom_probe(bloom, items, "probe_key", k=_BLOOM_K, m=_BLOOM_M).select(
        F.col("item").cast("long").alias("item"), "maybe_present"
    )


Q134_SQL = f"""
WITH bits AS (
  SELECT DISTINCT
    ('0x' || substring(md5(hidx::VARCHAR || ':' || p_partkey::VARCHAR), 1, 12))::BIGINT
      % {_BLOOM_M} AS pos
  FROM ({_BLOOM_VALS_SQL}) CROSS JOIN {_BLOOM_HASHES}
), probes AS (
  SELECT p_partkey::BIGINT AS item,
         ('0x' || substring(md5(hidx::VARCHAR || ':' || p_partkey::VARCHAR), 1, 12))::BIGINT
           % {_BLOOM_M} AS pos
  FROM part CROSS JOIN {_BLOOM_HASHES}
  WHERE p_partkey < 300
)
SELECT p.item,
       CAST(CASE WHEN count(b.pos) = {_BLOOM_K} THEN 1 ELSE 0 END AS BIGINT) AS maybe_present
FROM probes p LEFT JOIN bits b ON p.pos = b.pos
GROUP BY p.item
"""


def q135_simhash_pairs(spark, sf_dir):
    """Hamming-radius near-dup join (Manku et al. WWW'07): all document
    pairs whose 16-bit SimHash fingerprints differ in <= 3 bits, found
    by pigeonhole banding (4 bands — 3 flipped bits can't touch all 4,
    so near pairs agree exactly on >= 1 band) + exact bit_count(xor)
    verify BEFORE the pair-dedup shuffle (the q107 discipline). The
    oracle is the O(n^2) brute-force pair scan — a genuinely different
    algorithm, so the banding's completeness is what's being checked."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_LIMIT)
    return dedup.simhash_neardup_pairs(
        docs, "doc_id", n_bits=_SIMHASH_BITS, max_hamming=3, n_bands=4
    )


Q135_SQL = f"""
WITH sigs AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q136_snap_points(spark, sf_dir):
    """Map matching: snap every event point to its NEAREST river
    segment within 0.5 deg (planar) — cell-blocked candidate join +
    clamped-projection point-to-segment distance + per-point struct-min
    argmin, all whole-stage codegen (spatial_join.snap_to_segments).
    The oracle brute-forces points x all 100 segments and picks the
    row_number()=1 row under the identical (d2, river_id, seg) order —
    checking both the cell cover's completeness (no nearest segment
    lost to blocking) and the IEEE754 distance chain."""
    rivers = _rivers(spark, sf_dir)
    ax, ay, w, h = F.col("ax"), F.col("ay"), F.col("w"), F.col("h")
    arm = lambda s, x0, y0, x1, y1: F.struct(  # noqa: E731
        F.lit(s).alias("seg"), x0.alias("x0"), y0.alias("y0"), x1.alias("x1"), y1.alias("y1")
    )
    segs = rivers.select(
        "river_id",
        F.explode(
            F.array(
                arm(0, ax, ay, ax + w, ay),
                arm(1, ax + w, ay, ax + w, ay + h),
                arm(2, ax + w, ay + h, ax + F.lit(2) * w, ay + h),
                arm(3, ax + F.lit(2) * w, ay + h, ax + F.lit(3) * w, ay + F.lit(2) * h),
            )
        ).alias("s"),
    ).select("river_id", "s.seg", "s.x0", "s.y0", "s.x1", "s.y1")
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    out = spatial_join.snap_to_segments(
        pts,
        segs,
        radius=0.5,
        res=6,
        point_id_col="event_id",
        seg_id_cols=("river_id", "seg"),
        seg_cols=("x0", "y0", "x1", "y1"),
    )
    return out.select(
        "event_id",
        "river_id",
        "seg",
        F.round("snap_t", 6).alias("snap_t"),
        F.round("snap_d2", 6).alias("snap_d2"),
    )


Q136_SQL = f"""
WITH r AS ({_RIVERS_SQL}), segs AS (
  SELECT river_id, 0 AS seg, ax AS x0, ay AS y0, ax + w AS x1, ay AS y1 FROM r
  UNION ALL SELECT river_id, 1, ax + w, ay, ax + w, ay + h FROM r
  UNION ALL SELECT river_id, 2, ax + w, ay + h, ax + 2 * w, ay + h FROM r
  UNION ALL SELECT river_id, 3, ax + 2 * w, ay + h, ax + 3 * w, ay + 2 * h FROM r
), pts AS ({_EVENT_POINTS_SQL}),
proj AS (
  SELECT event_id, river_id, seg, lon, lat, x0, y0, x1, y1,
         CASE WHEN (x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0) > 0.0
              THEN least(greatest(
                     ((lon - x0) * (x1 - x0) + (lat - y0) * (y1 - y0))
                       / ((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)), 0.0), 1.0)
              ELSE 0.0 END AS t
  FROM pts CROSS JOIN segs
), dist AS (
  SELECT event_id, river_id, seg, t,
         (lon - (x0 + t * (x1 - x0))) * (lon - (x0 + t * (x1 - x0)))
         + (lat - (y0 + t * (y1 - y0))) * (lat - (y0 + t * (y1 - y0))) AS d2
  FROM proj
)
SELECT event_id, river_id, seg, round(t, 6) AS snap_t, round(d2, 6) AS snap_d2
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d2, river_id, seg) AS rn
  FROM dist WHERE d2 <= 0.25
) WHERE rn = 1
"""


def q137_d8_flow(spark, sf_dir):
    """D8 steepest-descent flow direction over the res-6 event-count
    grid (tiling.d8_flow_direction — O'Callaghan & Mark 1984): each
    occupied cell points at its steepest strictly-lower OCCUPIED
    neighbor, diagonal drops weighted 1/sqrt(2) via the integer-exact
    2*dc^2-vs-dd^2 compare; ESRI codes, 0 = sink. The oracle re-derives
    with the same VALUES-table scatter but an independent join shape."""
    from pda_spark.operators import tiling

    res = 6
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tiling.d8_flow_direction(cnt, res)


Q137_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
), sc AS (
  SELECT ix - dx AS rix, iy - dy AS riy, code, w, n AS dv
  FROM cnt
  CROSS JOIN (VALUES (1, 0, 1, 2), (1, -1, 2, 1), (0, -1, 4, 2), (-1, -1, 8, 1),
                     (-1, 0, 16, 2), (-1, 1, 32, 1), (0, 1, 64, 2), (1, 1, 128, 1))
       AS o(dx, dy, code, w)
  WHERE ix - dx BETWEEN 0 AND {_N6 - 1} AND iy - dy BETWEEN 0 AND {_N6 - 1}
), best AS (
  SELECT c.ix, c.iy,
         max(struct_pack(key := (c.n - s.dv) * (c.n - s.dv) * s.w, negcode := -s.code)) AS b
  FROM cnt c JOIN sc s ON c.ix = s.rix AND c.iy = s.riy
  WHERE c.n - s.dv > 0
  GROUP BY c.ix, c.iy
)
SELECT c.ix::BIGINT AS ix, c.iy::BIGINT AS iy, c.n::BIGINT AS n,
       CAST(coalesce(-struct_extract(b.b, 'negcode'), 0) AS BIGINT) AS flow_dir
FROM cnt c LEFT JOIN best b ON c.ix = b.ix AND c.iy = b.iy
"""


def q138_hard_negatives(spark, sf_dir):
    """Hard-negative mining (contrastive-training curation op): for
    each of 8 anchors, the top-2 most-cosine-similar vectors with a
    DIFFERENT label — the q30 exact-cosine discipline (hoisted norms,
    rounded-6 score, id tiebreak) plus the label-mismatch filter
    (similarity.hard_negatives)."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_embedding"),
        F.col("label").alias("a_label"),
    )
    return similarity.hard_negatives(emb, anchors, k=2)


Q138_SQL = """
WITH anchors AS (
  SELECT vec_id AS a_id, embedding AS a_embedding, label AS a_label
  FROM embeddings WHERE vec_id < 8
), scored AS (
  SELECT a.a_id, e.vec_id, e.label,
         round(list_dot_product(e.embedding::DOUBLE[], a.a_embedding::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(a.a_embedding::DOUBLE[], a.a_embedding::DOUBLE[]))),
               6) AS cosine
  FROM embeddings e CROSS JOIN anchors a
  WHERE e.label <> a.a_label
)
SELECT a_id, vec_id, label, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 2
"""



def q139_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization of the embedding table
    (similarity.quantize_int8): per-vector scale = max|x|, components
    floor(x*127/scale + 0.5) clamped — round-half-UP via floor so both
    engines tie-break identically (round() half-even differs). The
    quantized vector is emitted as a joined string (driver hasher can't
    take arrays)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join(F.expr("transform(qvec, v -> CAST(v AS STRING))"), ",").alias("qvec"),
    )


Q139_SQL = """
WITH scaled AS (
  SELECT vec_id,
         list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS s,
         embedding::DOUBLE[] AS e
  FROM embeddings WHERE vec_id < 500
)
SELECT vec_id, round(s, 6) AS scale,
       array_to_string(
         list_transform(e, v -> CASE WHEN s > 0.0 THEN
             greatest(least(CAST(floor(v * 127.0 / s + 0.5) AS BIGINT), 127), -127)
           ELSE 0 END), ',') AS qvec
FROM scaled
"""


def q140_quantized_ann(spark, sf_dir):
    """Exact top-k cosine over int8-QUANTIZED vectors — quantization
    composes with the unchanged cosine_topk operator (integer
    components are exact in float64, so the dots are order-independent
    and engine-exact; only the final division+round is float). The
    recall-vs-q30 comparison is the measured quantization cost; the
    GATE checks the quantized ranking itself replays exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb).select("vec_id", F.col("qvec").alias("embedding"))
    anchors = q.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity.cosine_topk(q, anchors, k=5)


Q140_SQL = """
WITH scaled AS (
  SELECT vec_id,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS s,
         embedding::DOUBLE[] AS e
  FROM embeddings
), q AS (
  SELECT vec_id,
         list_transform(e, v -> CASE WHEN s > 0.0 THEN
             greatest(least(CAST(floor(v * 127.0 / s + 0.5) AS BIGINT), 127), -127)
           ELSE 0 END) AS qv
  FROM scaled
), anchors AS (
  SELECT vec_id AS q_id, qv AS q_qv FROM q WHERE vec_id < 5
), scored AS (
  SELECT a.q_id, e.vec_id,
         round(list_dot_product(e.qv::DOUBLE[], a.q_qv::DOUBLE[])
               / (sqrt(list_dot_product(e.qv::DOUBLE[], e.qv::DOUBLE[]))
                  * sqrt(list_dot_product(a.q_qv::DOUBLE[], a.q_qv::DOUBLE[]))), 6) AS cosine
  FROM q e CROSS JOIN anchors a
)
SELECT q_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
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



def q142_flow_accumulation(spark, sf_dir):
    """D8 flow ACCUMULATION over the res-6 event grid (the q137 pair):
    bounded leaf-to-root iteration over the D8 forest (acyclic by
    construction — every edge drops strictly). The oracle re-derives
    with a genuinely different algorithm: a recursive-CTE transitive
    closure counting, for each cell, every cell whose descent path
    passes through it."""
    from pda_spark.operators import tiling

    res = 6
    pts = _event_points(spark, sf_dir)
    cnt = (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tiling.flow_accumulation(cnt, res)


_D8_CTES = f"""
pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
), sc AS (
  SELECT ix - dx AS rix, iy - dy AS riy, code, w, n AS dv
  FROM cnt
  CROSS JOIN (VALUES (1, 0, 1, 2), (1, -1, 2, 1), (0, -1, 4, 2), (-1, -1, 8, 1),
                     (-1, 0, 16, 2), (-1, 1, 32, 1), (0, 1, 64, 2), (1, 1, 128, 1))
       AS o(dx, dy, code, w)
  WHERE ix - dx BETWEEN 0 AND {_N6 - 1} AND iy - dy BETWEEN 0 AND {_N6 - 1}
), best AS (
  SELECT c.ix, c.iy,
         max(struct_pack(key := (c.n - s.dv) * (c.n - s.dv) * s.w, negcode := -s.code)) AS b
  FROM cnt c JOIN sc s ON c.ix = s.rix AND c.iy = s.riy
  WHERE c.n - s.dv > 0
  GROUP BY c.ix, c.iy
), flow AS (
  SELECT c.ix, c.iy, c.n,
         CAST(coalesce(-struct_extract(b.b, 'negcode'), 0) AS BIGINT) AS flow_dir
  FROM cnt c LEFT JOIN best b ON c.ix = b.ix AND c.iy = b.iy
)"""

Q142_SQL = f"""
WITH RECURSIVE {_D8_CTES},
edges AS (
  SELECT ix AS cix, iy AS ciy,
         ix + CASE flow_dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 128 THEN 1
                            WHEN 8 THEN -1 WHEN 16 THEN -1 WHEN 32 THEN -1
                            ELSE 0 END AS pix,
         iy + CASE flow_dir WHEN 2 THEN -1 WHEN 4 THEN -1 WHEN 8 THEN -1
                            WHEN 32 THEN 1 WHEN 64 THEN 1 WHEN 128 THEN 1
                            ELSE 0 END AS piy
  FROM flow WHERE flow_dir > 0
), reach AS (
  SELECT ix AS six, iy AS siy, ix, iy FROM flow
  UNION ALL
  SELECT r.six, r.siy, e.pix, e.piy
  FROM reach r JOIN edges e ON r.ix = e.cix AND r.iy = e.ciy
)
SELECT f.ix, f.iy, f.n, f.flow_dir, CAST(cnt_reach AS BIGINT) AS acc
FROM flow f JOIN (
  SELECT ix, iy, count(*) AS cnt_reach FROM reach GROUP BY ix, iy
) r ON f.ix = r.ix AND f.iy = r.iy
"""


def q143_winsorize(spark, sf_dir):
    """Per-group winsorization (percentile clipping, the outlier-robust
    feature-cleaning primitive): order totals clipped to the exact
    per-priority [p05, p95] (profiling.winsorize — Spark percentile ==
    DuckDB quantile_cont bit-exact per q67, so the clipped doubles are
    emitted RAW)."""
    from pda_spark.functions import profiling

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    w = profiling.winsorize(
        o, "o_totalprice", group_cols=["o_orderpriority"], lower=0.05, upper=0.95
    )
    return w.select("o_orderkey", "o_orderpriority", F.col("o_totalprice_wins").alias("wins"))


Q143_SQL = """
WITH b AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderkey, o.o_orderpriority,
       least(greatest(o.o_totalprice, b.lo), b.hi) AS wins
FROM orders o JOIN b USING (o_orderpriority)
"""


def q144_chunk_text(spark, sf_dir):
    """RAG-style document chunking (200-char windows, 40 overlap):
    sequence-explode + substring, pure Catalyst, shuffle-free
    (text.chunk_text). Chunk content gates through md5 + length so the
    compare stays light while still pinning every byte."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ch = text.chunk_text(docs, chunk_chars=200, overlap=40)
    return ch.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").alias("chunk_len"),
        F.md5("chunk").alias("chunk_hash"),
    )


Q144_SQL = """
WITH docs AS (
  SELECT doc_id, text, length(text) AS ln FROM documents WHERE doc_id < 300
), n AS (
  SELECT doc_id, text, greatest((ln - 40 + 159) // 160, 1) AS n_chunks FROM docs
), idx AS (
  SELECT doc_id, text, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM n
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       CAST(length(substring(text, 1 + chunk_idx * 160, 200)) AS INTEGER) AS chunk_len,
       md5(substring(text, 1 + chunk_idx * 160, 200)) AS chunk_hash
FROM idx
"""



def q145_url_keep_best(spark, sf_dir):
    """Canonical-URL keep-best dedup (the step AFTER q54's
    normalization in a web-corpus pipeline): four raw-URL variants per
    canonical page (path = doc_id div 4; per-doc messy casing/port/
    slash/tracking/fragment noise), keep the longest document per
    canonical URL with a doc_id tiebreak (dedup.dedup_keep_best)."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.expr("CAST(doc_id div 4 AS STRING)"),
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    base = docs.select(
        "doc_id", "n_chars", text.normalize_url(raw).alias("url")
    )
    best = dedup.dedup_keep_best(
        base, ["url"], [F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
    return best.select("url", "doc_id", "n_chars")


Q145_SQL = rf"""
WITH raw AS (
  SELECT doc_id, n_chars,
         'HTTPS://WWW.' || source || '.Example.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/p/' || CAST(doc_id // 4 AS VARCHAR)
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
), {_url_norm_ctes("doc_id, n_chars")}
SELECT url, doc_id, n_chars FROM (
  SELECT doc_id, n_chars, url_norm AS url,
         row_number() OVER (PARTITION BY url_norm ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM norm
) WHERE rn = 1
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


def q147_jaccard_prefix_join(spark, sf_dir):
    """Exact set-similarity self-join via PREFIX FILTERING (AllPairs /
    PPJoin; Bayardo WWW'07): every doc pair with word-3-gram Jaccard
    >= 1/2, candidates generated ONLY from each doc's globally-rarest
    prefix tokens. The oracle is the brute-force all-shingle join —
    prefix-filter COMPLETENESS is the thing under test (the q135/q146
    blocking discipline). Threshold is the rational 1/2 so every
    compare is integer; doc_id < 1000 keeps the O(n^2)-ish oracle
    SF-stable."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.jaccard_join_prefix(
        docs, "doc_id", "text", threshold_num=1, threshold_den=2, shingle_words=3
    )


Q147_SQL = r"""
WITH w AS (
  SELECT doc_id, [t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> ''] AS ws
  FROM documents WHERE doc_id < 1000
), tok AS (
  SELECT doc_id, unnest(list_distinct(
    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, greatest(len(ws)-2,0)+1)]
  )) AS tok FROM w
), sizes AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
pairs AS (
  SELECT a.doc_id ia, b.doc_id ib, count(*) AS inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b, CAST(inter AS BIGINT) AS inter,
       CAST(sa.s + sb.s - inter AS BIGINT) AS uni,
       round(inter / (sa.s + sb.s - inter), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
WHERE 2 * inter >= (sa.s + sb.s - inter)
"""


def q148_sssp(spark, sf_dir):
    """Hop-bounded multi-source shortest paths (distributed
    Bellman-Ford, 4 relaxation rounds) over a deterministic supplier
    ladder graph: s -> s+1 (weight 1 + s%7) and s -> s+10 (weight
    3 + s%5), sources = suppliers with s % 50 == 1. The oracle unrolls
    the same 4 rounds as chained CTEs — no recursive CTE, so the
    path explosion a recursive UNION would risk never occurs. All
    integer arithmetic."""
    from pda_spark.functions import graph

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey")
    # SF-scaling bound as a lazy one-row broadcast scalar (no collect)
    mx = sup.agg(F.max("s_suppkey").alias("_mx"))
    supx = sup.crossJoin(F.broadcast(mx))
    e1 = supx.filter(F.col("s_suppkey") + 1 <= F.col("_mx")).select(
        F.col("s_suppkey").alias("src"),
        (F.col("s_suppkey") + 1).alias("dst"),
        (F.lit(1) + F.pmod(F.col("s_suppkey"), F.lit(7))).alias("w"),
    )
    e2 = supx.filter(F.col("s_suppkey") + 10 <= F.col("_mx")).select(
        F.col("s_suppkey").alias("src"),
        (F.col("s_suppkey") + 10).alias("dst"),
        (F.lit(3) + F.pmod(F.col("s_suppkey"), F.lit(5))).alias("w"),
    )
    src = sup.filter(F.pmod(F.col("s_suppkey"), F.lit(50)) == 1).select(
        F.col("s_suppkey").alias("id")
    )
    return graph.sssp_bounded(e1.unionAll(e2), src, rounds=4)


_SSSP_ROUND = """
  SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM {prev}
    UNION ALL
    SELECT e.v AS id, {prev}.dist + e.w AS dist FROM {prev} JOIN e ON e.u = {prev}.id
  ) GROUP BY id
"""

Q148_SQL = f"""
WITH mx AS (SELECT max(s_suppkey) AS m FROM supplier),
e AS (
  SELECT s_suppkey AS u, s_suppkey + 1 AS v, 1 + s_suppkey % 7 AS w
  FROM supplier, mx WHERE s_suppkey + 1 <= mx.m
  UNION ALL
  SELECT s_suppkey, s_suppkey + 10, 3 + s_suppkey % 5
  FROM supplier, mx WHERE s_suppkey + 10 <= mx.m
),
d0 AS (SELECT s_suppkey AS id, CAST(0 AS BIGINT) AS dist FROM supplier WHERE s_suppkey % 50 = 1),
d1 AS ({_SSSP_ROUND.format(prev="d0")}),
d2 AS ({_SSSP_ROUND.format(prev="d1")}),
d3 AS ({_SSSP_ROUND.format(prev="d2")}),
d4 AS ({_SSSP_ROUND.format(prev="d3")})
SELECT id, CAST(dist AS BIGINT) AS dist FROM d4
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


def q151_mad(spark, sf_dir):
    """Median absolute deviation of price cents per (returnflag,
    linestatus) — robust location+spread. Integer cents + the q67
    percentile bit-exactness make both medians replay exactly."""
    from pda_spark.functions import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.floor(F.col("l_extendedprice") * 100).alias("cents")
    )
    return profiling.mad(li, "cents", ["l_returnflag", "l_linestatus"])


Q151_SQL = """
WITH b AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_extendedprice * 100) AS DOUBLE) AS v
  FROM lineitem
), med AS (
  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
         quantile_cont(v, 0.5) AS med
  FROM b GROUP BY 1, 2
)
SELECT b.l_returnflag, b.l_linestatus, any_value(med.n) AS n,
       round(any_value(med.med), 6) AS med,
       round(quantile_cont(abs(b.v - med.med), 0.5), 6) AS mad
FROM b JOIN med USING (l_returnflag, l_linestatus)
GROUP BY 1, 2
"""


def q152_mode(spark, sf_dir):
    """Deterministic mode (most frequent quantity, ties to the MINIMUM
    value) per (returnflag, linestatus). The oracle replays the same
    two-phase count/argmax rather than DuckDB's mode() — whose
    tie-break is engine-defined, the exact thing this operator
    pins down."""
    from pda_spark.functions import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("long").alias("qty")
    )
    return profiling.mode_per_group(li, "qty", ["l_returnflag", "l_linestatus"])


Q152_SQL = """
WITH c AS (
  SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS value,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
), mx AS (
  SELECT l_returnflag, l_linestatus, max(cnt) AS cnt FROM c GROUP BY 1, 2
)
SELECT c.l_returnflag, c.l_linestatus, min(c.value) AS mode,
       CAST(max(c.cnt) AS BIGINT) AS mode_count
FROM c JOIN mx USING (l_returnflag, l_linestatus, cnt)
GROUP BY 1, 2
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


def q155_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking pairs over customer balances
    (window 3): the sliding-window candidate generator of classic
    record linkage. The engine computes the global sort rank WITHOUT a
    single-task window (range partition + parallel per-partition
    row_numbers + broadcast prefix offsets — ``dedup.global_rank``);
    the oracle IS the single-window row_number formulation — rank
    parity between the two is the thing under test."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.floor(F.col("c_acctbal") * 100).alias("cents")
    )
    return dedup.sorted_neighborhood_pairs(
        cust, "c_custkey", ["cents"], window=3
    )


Q155_SQL = """
WITH r AS (
  SELECT c_custkey AS id,
         row_number() OVER (ORDER BY floor(c_acctbal * 100), c_custkey) AS rk
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(a.rk AS BIGINT) AS rank_a, CAST(b.rk AS BIGINT) AS rank_b
FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3
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


_KCORE_K = 80
_KCORE_ROUNDS = 6
_KCORE_CAP = 2000


def q159_kcore(spark, sf_dir):
    """6 rounds of 80-core peeling over the bounded co-purchase
    graph (parts < 2000): survivors + degrees in the surviving
    subgraph. The oracle unrolls the identical 6 peel rounds (the q148
    discipline); extra rounds past convergence are no-ops, so the
    fixed count is the spec in both engines. k = 80 sits below the
    sf0.01 median degree (115) but above its min (42), so the peel
    drops a real 143-node tail AND keeps a 1857-node core (k >= 90
    collapses the WHOLE graph — the sharp core-collapse transition;
    tune k against the degree distribution or the gate is vacuous).
    At sf0.1 the parts cap keeps only 1/10 of lineitems and the whole
    graph (max degree 30) peels away — the gate still replays parity
    on the empty result, and the cascade semantics are pinned by the
    kcore pytest."""
    from pda_spark.functions import graph

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < _KCORE_CAP)
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
    )
    return graph.kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS, cap: int = _KCORE_CAP) -> str:
    ctes = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_partkey < {cap} AND b.l_partkey < {cap}
)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT id FROM (SELECT u AS id FROM e{r} UNION ALL SELECT v FROM e{r})
  GROUP BY id HAVING count(*) >= {k}
)"""
        )
        ctes.append(
            f"""e{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r} e
  JOIN d{r} da ON da.id = e.u
  JOIN d{r} db ON db.id = e.v
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT id, CAST(count(*) AS BIGINT) AS deg
FROM (SELECT u AS id FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
GROUP BY id
"""


def q160_bloom_pruned_join(spark, sf_dir):
    """Bloom-pruned fact-dim join (the 100 TB pre-join pruning
    pattern): the dim-key bit table collapses to a codegen'd literal
    bitstring filter on the fact scan; false positives die in the
    join, false negatives cannot exist — so the result is provably the
    plain join, and the oracle IS the plain join (the whole sketch
    path is under end-to-end test). Aggregated per supplier to bound
    the gate rows."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    joined = sketch.bloom_pruned_join(li, sup, "l_suppkey", "s_suppkey")
    return (
        joined.groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        )
        .withColumnRenamed("s_suppkey", "suppkey")
    )


Q160_SQL = """
SELECT s_suppkey AS suppkey, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey < 5
GROUP BY 1
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


# Ranked BPE merge table (trained offline; rank order matters — later
# rules consume earlier rules' outputs)
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"),
    ("e", "n"), ("o", "r"), ("e", "s"), ("t", "i"), ("o", "u"),
    ("a", "l"), ("s", "t"), ("o", "f"), ("e", "d"), ("a", "r"),
]


def q163_bpe_tokenize(spark, sf_dir):
    """Ranked-greedy-merge subword tokenization (the BPE encode pass as
    a pure Catalyst replace chain): per-doc word/token/char counts
    under the fixed 20-rule merge table. Both engines share replace()'s
    non-overlapping left-to-right semantics, so the oracle replays the
    identical merge pass."""
    docs = _t(spark, sf_dir, "documents")
    return text.bpe_merge_tokenize(docs, _BPE_MERGES)


def _bpe_sql(merges=None) -> str:
    merges = merges if merges is not None else _BPE_MERGES
    # sentinel-space delimiting (the engine's boundary-safe form):
    # ' a b c ' with rules matching ' l r ' including both delimiters
    expr = r"' ' || regexp_replace(w, '(.)', '\1 ', 'g')"
    for left, right in merges:
        expr = f"replace({expr}, ' {left} {right} ', ' {left}{right} ')"
    expr = f"trim({expr})"
    return f"""
WITH w AS (
  SELECT doc_id,
         unnest([t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> '']) AS w
  FROM documents
), t AS (
  SELECT doc_id, len(string_split({expr}, ' ')) AS nt, length(w) AS nc FROM w
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(nc) AS BIGINT) AS n_chars
FROM t GROUP BY doc_id
"""


def q164_cms_join_size(spark, sf_dir):
    """CMS inner-product join-size estimate (the query-optimizer
    cardinality oracle from two d*w sketch tables — neither input is
    re-read): est >= |lineitem JOIN supplier ON suppkey|, min over
    hash rows of the bucket-wise count product. Exact integers; the
    upper-bound guarantee is pytest-pinned against the true size."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    ca = sketch.cms_build(li, "l_suppkey", d=4, w=64)
    cb = sketch.cms_build(sup, "s_suppkey", d=4, w=64)
    return sketch.cms_join_size(ca, cb)


_CMS_SUP_SQL = """
WITH t AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS v FROM supplier
), x AS (
  SELECT r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || v), 1, 12))::BIGINT % 64
           AS bucket
  FROM t, unnest(generate_series(0, 3)) AS s(r)
)
SELECT r AS hrow, bucket, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY 1, 2
"""

Q164_SQL = f"""
WITH ca AS ({Q125_SQL}), cb AS ({_CMS_SUP_SQL}),
ip AS (
  SELECT a.hrow, sum(a.cnt * b.cnt) AS ip
  FROM ca a JOIN cb b ON a.hrow = b.hrow AND a.bucket = b.bucket
  GROUP BY 1
)
SELECT CAST(CASE WHEN (SELECT count(*) FROM ip) < 4 THEN 0
            ELSE (SELECT min(ip) FROM ip) END AS BIGINT) AS est_join_size
"""


def q165_robust_outliers(spark, sf_dir):
    """Robust z-score outlier counts per (returnflag, linestatus) —
    the MAD consumer: |x - med| > 3 * mad over exact dyadic stats, so
    the flag is an integer-exact compare both engines replay.
    Aggregated to per-group counts to bound the gate."""
    from pda_spark.functions import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.floor(F.col("l_extendedprice") * 100).alias("cents")
    )
    flags = profiling.robust_outliers(li, "cents", ["l_returnflag", "l_linestatus"], n_mads=3)
    return flags.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("is_outlier").cast("long")).cast("long").alias("n_outliers"),
    )


Q165_SQL = """
WITH b AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_extendedprice * 100) AS DOUBLE) AS v
  FROM lineitem
), med AS (
  SELECT l_returnflag, l_linestatus, round(quantile_cont(v, 0.5), 6) AS med
  FROM b GROUP BY 1, 2
), dev AS (
  SELECT b.l_returnflag, b.l_linestatus,
         round(quantile_cont(abs(b.v - med.med), 0.5), 6) AS mad
  FROM b JOIN med USING (l_returnflag, l_linestatus)
  GROUP BY 1, 2, med.med
)
SELECT b.l_returnflag, b.l_linestatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN abs(b.v - med.med) > 3.0 * dev.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM b
JOIN med USING (l_returnflag, l_linestatus)
JOIN dev USING (l_returnflag, l_linestatus)
GROUP BY 1, 2
"""


def q166_weighted_median(spark, sf_dir):
    """Lower weighted median of quantity weighted by linenumber per
    returnflag — all-integer cumulative-weight order statistic
    (2*cumw >= W), deterministic in any engine."""
    from pda_spark.functions import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_linenumber").cast("long").alias("wt"),
    )
    return profiling.weighted_median(li, "qty", "wt", ["l_returnflag"])


Q166_SQL = """
WITH agg AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS value,
         sum(CAST(l_linenumber AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, value,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM agg
)
SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS w_total,
       CAST(min(value) AS BIGINT) AS wmedian
FROM cum WHERE 2 * cw >= tw
GROUP BY 1
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


def q168_hhi(spark, sf_dir):
    """Herfindahl-Hirschman revenue concentration per returnflag over
    suppliers: exact int64 numerator (sum of squared member totals,
    dollars to stay in range) and total, one final division."""
    from pda_spark.functions import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") / 100).alias("dollars"),
    )
    return profiling.hhi_concentration(li, ["l_returnflag"], "l_suppkey", "dollars")


Q168_SQL = """
WITH m AS (
  SELECT l_returnflag, l_suppkey AS member,
         sum(CAST(floor(l_extendedprice / 100) AS BIGINT)) AS x
  FROM lineitem GROUP BY 1, 2
), g AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(x * x) AS BIGINT) AS hhi_num,
         CAST(sum(x) AS BIGINT) AS total
  FROM m GROUP BY 1
)
SELECT l_returnflag, n_members, hhi_num, total,
       round(CASE WHEN total <> 0
             THEN CAST(hhi_num AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
             END, 6) AS hhi
FROM g
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


def q170_snapshot_diff(spark, sf_dir):
    """Change-data-feed diff between two derived event snapshots (old
    excludes user%10==3, new excludes user%10==7 and bumps every 5th
    event's cents): added/removed/changed per key via one full outer
    join + null-safe compares."""
    from pda_spark.functions import profiling

    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100)
    old = ev.filter(F.pmod(F.col("user_id"), F.lit(10)) != 3).select(
        "event_id", cents.alias("v")
    )
    new = ev.filter(F.pmod(F.col("user_id"), F.lit(10)) != 7).select(
        "event_id",
        (cents + F.when(F.pmod(F.col("event_id"), F.lit(5)) == 0, 1).otherwise(0)).alias("v"),
    )
    return profiling.snapshot_diff(old, new, ["event_id"], ["v"])


Q170_SQL = """
WITH o AS (
  SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS v
  FROM events WHERE user_id % 10 <> 3
), n AS (
  SELECT event_id, CAST(floor(value * 100) AS BIGINT)
         + CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS v
  FROM events WHERE user_id % 10 <> 7
), j AS (
  SELECT coalesce(o.event_id, n.event_id) AS event_id,
         CASE WHEN o.event_id IS NULL THEN 'added'
              WHEN n.event_id IS NULL THEN 'removed'
              WHEN o.v IS DISTINCT FROM n.v THEN 'changed' END AS change
  FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
)
SELECT event_id, change FROM j WHERE change IS NOT NULL
"""


def q171_benford(spark, sf_dir):
    """First-significant-digit (Benford) histogram of whole-dollar
    prices per returnflag — decimal-string head, no log10, libm-free
    exact counts."""
    from pda_spark.functions import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.floor(F.col("l_extendedprice")).alias("v")
    )
    return profiling.benford_digits(li, "v", ["l_returnflag"])


Q171_SQL = """
SELECT l_returnflag,
       CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
            AS BIGINT) AS digit,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
WHERE CAST(floor(l_extendedprice) AS BIGINT) > 0
GROUP BY 1, 2
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


def q173_tree_root(spark, sf_dir):
    """Root + depth over the supplier binary-heap forest (parent =
    (s-1) div 2, s >= 1) by pointer doubling — 5 rounds cover depth
    2^5; the oracle unrolls the same 5 doubling compositions
    (MATERIALIZED — the q156 CTE-inlining lesson)."""
    from pda_spark.functions import graph

    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") >= 1)
    parent = sup.select(
        F.col("s_suppkey").alias("id"),
        F.expr("(s_suppkey - 1) div 2").alias("parent"),
    )
    return graph.tree_root_depth(parent, rounds=5)


def _tree_sql(rounds: int = 5) -> str:
    ctes = [
        """m0 AS MATERIALIZED (
  SELECT s_suppkey AS id, (s_suppkey - 1) // 2 AS anc, CAST(1 AS BIGINT) AS d
  FROM supplier WHERE s_suppkey >= 1
)"""
    ]
    for k in range(rounds):
        ctes.append(
            f"""m{k + 1} AS MATERIALIZED (
  SELECT m.id, coalesce(p._a, m.anc) AS anc, m.d + coalesce(p._d, 0) AS d
  FROM m{k} m LEFT JOIN
       (SELECT id AS anc, anc AS _a, d AS _d FROM m{k}) p USING (anc)
)"""
        )
    return f"""
WITH {",".join(ctes)},
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT s_suppkey AS id FROM supplier WHERE s_suppkey >= 1
    UNION ALL
    SELECT (s_suppkey - 1) // 2 FROM supplier WHERE s_suppkey >= 1
  )
)
SELECT n.id, CAST(coalesce(m.anc, n.id) AS BIGINT) AS root,
       CAST(coalesce(m.d, 0) AS BIGINT) AS depth
FROM nodes n LEFT JOIN m{rounds} m USING (id)
"""


def q174_pearson(spark, sf_dir):
    """Exact-integer-sums Pearson correlation of whole-dollar price vs
    ship-day per supplier — the cross-engine-deterministic corr()
    (Spark's streaming-covariance corr is partition-order-dependent).
    Dollars, not cents: n*Syy must fit int64 (the q150 envelope)."""
    from pda_spark.operators import temporal

    li = _t(spark, sf_dir, "lineitem")
    return temporal.pearson_exact(
        li.select(
            "l_suppkey",
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")).alias("_day"),
            F.floor(F.col("l_extendedprice") / 100).alias("_dollars"),
        ),
        "l_suppkey",
        "_day",
        "_dollars",
    )


Q174_SQL = """
WITH b AS (
  SELECT l_suppkey AS key,
         CAST(datediff('day', DATE '1992-01-01', l_shipdate::DATE) AS BIGINT) AS x,
         CAST(floor(l_extendedprice / 100) AS BIGINT) AS y
  FROM lineitem
), g AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM b GROUP BY key
)
SELECT key, n, CAST(n * sxy - sx * sy AS BIGINT) AS r_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS dx,
       CAST(n * syy - sy * sy AS BIGINT) AS dy,
       round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             END, 6) AS r
FROM g
"""


def q175_minmax_norm(spark, sf_dir):
    """Per-returnflag min-max scaling of price cents: integer
    numerator/denominator, one division per row. Aggregated (sum of
    scaled values x 1e6 floored, per group) to bound the gate rows
    while still pinning every division."""
    from pda_spark.functions import profiling

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.floor(F.col("l_extendedprice") * 100).alias("cents")
    )
    normed = profiling.minmax_normalize(li, "cents", ["l_returnflag"])
    return normed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("cents_norm") * 1_000_000)).cast("long").alias("sum_norm_micro"),
    )


Q175_SQL = """
WITH b AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), agg AS (
  SELECT l_returnflag, min(cents) AS mn, max(cents) AS mx FROM b GROUP BY 1
), n AS (
  SELECT b.l_returnflag,
         round(CASE WHEN mx > mn
               THEN CAST(cents - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) END, 6) AS v
  FROM b JOIN agg USING (l_returnflag)
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS BIGINT) AS sum_norm_micro
FROM n GROUP BY 1
"""


def q176_label_encode(spark, sf_dir):
    """Deterministic label dictionary for part brands: dense ids in
    value sort order (the only cross-engine-replayable assignment;
    frequency-ordered StringIndexer ids are tie-arbitrary). Window
    runs over DISTINCT values only — vocabulary-bounded."""
    from pda_spark.functions import profiling

    part = _t(spark, sf_dir, "part")
    return profiling.label_encode(part.select(F.col("p_brand").alias("v")), "v", start=0)


Q176_SQL = """
SELECT v AS value,
       CAST(row_number() OVER (ORDER BY v) - 1 AS BIGINT) AS label_id
FROM (SELECT DISTINCT p_brand AS v FROM part WHERE p_brand IS NOT NULL)
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


_AUC_SCORE = "(event_id * 31 + user_id * 7) % 1000"
_AUC_LABEL = f"CASE WHEN ({_AUC_SCORE} + event_id) % 3 = 0 THEN 1 ELSE 0 END"


def _auc_base(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    score = F.pmod(F.col("event_id") * 31 + F.col("user_id") * 7, F.lit(1000))
    label = F.when(F.pmod(score + F.col("event_id"), F.lit(3)) == 0, 1).otherwise(0)
    return ev.select(
        F.pmod(F.col("user_id"), F.lit(20)).alias("k"),
        score.alias("s"),
        label.alias("y"),
    )


def q178_auc(spark, sf_dir):
    """Exact ROC AUC per user bucket via integer rank sums (the
    Mann-Whitney U identity, doubled average ranks for exact tie
    handling) — one division at the end, everything else int64."""
    from pda_spark.functions import profiling

    return profiling.auc_exact(_auc_base(spark, sf_dir), "k", "s", "y")


Q178_SQL = f"""
WITH b AS (
  SELECT user_id % 20 AS key, {_AUC_SCORE} AS s, {_AUC_LABEL} AS y FROM events
), ps AS (
  SELECT key, s, count(*) AS c, sum(y) AS pos FROM b GROUP BY 1, 2
), cum AS (
  SELECT key, s, c, pos,
         coalesce(sum(c) OVER (PARTITION BY key ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM ps
), g AS (
  SELECT key, CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(c) - sum(pos) AS BIGINT) AS n_neg,
         CAST(sum(pos * (2 * cb + c + 1)) AS BIGINT) AS r2
  FROM cum GROUP BY key
)
SELECT key, n_pos, n_neg,
       CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       round(CASE WHEN n_pos > 0 AND n_neg > 0
             THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END, 6) AS auc
FROM g
"""


def q179_calibration(spark, sf_dir):
    """Reliability-diagram bins (10 equal-width score bins, exact
    integer row/positive counts per bin per key) — the calibration
    companion to q178."""
    from pda_spark.functions import profiling

    return profiling.calibration_bins(
        _auc_base(spark, sf_dir), "k", "s", "y", n_bins=10, score_max=1000
    )


Q179_SQL = f"""
WITH b AS (
  SELECT user_id % 20 AS key, {_AUC_SCORE} AS s, {_AUC_LABEL} AS y FROM events
)
SELECT key, least(CAST(s AS BIGINT) // 100, 9) AS bin,
       CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
FROM b GROUP BY 1, 2
"""


def q180_feature_hash(spark, sf_dir):
    """Hashing-trick featurization of documents (dim 256, md5 fold):
    sparse (doc, feature_idx, count) rows with exact occurrence
    counts — the no-vocabulary streaming featurizer."""
    from pda_spark.functions import profiling

    docs = _t(spark, sf_dir, "documents")
    return profiling.feature_hash(docs, "doc_id", "text", dim=256)


Q180_SQL = """
WITH w AS (
  SELECT doc_id,
         unnest([t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> '']) AS w
  FROM documents
)
SELECT doc_id, ('0x' || substring(md5(w), 1, 12))::BIGINT % 256 AS feature_idx,
       CAST(count(*) AS BIGINT) AS count
FROM w GROUP BY 1, 2
"""


def q181_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (the Heaps-law measurement): per doc in
    id order, the number of word types FIRST SEEN in that doc and the
    cumulative type count. First-seen attribution is one grouped min
    over (token -> doc); the cumulative sum runs on
    ``dedup.global_cumsum`` — the distributed prefix-sum (range
    partition + parallel windows + broadcast offsets), NEVER a
    single-task global window; the oracle is the single-window
    formulation, prefix-sum parity is the test (the q155 discipline
    generalized from ranks to sums)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    tok = docs.select("doc_id", F.explode(F.array_distinct(words)).alias("w"))
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("doc_id"))
    per_doc = first_seen.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    # every doc gets a row (zero new types is a real measurement)
    spine = docs.select("doc_id").distinct()
    filled = spine.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    return dedup.global_cumsum(filled, ["doc_id"], "n_new", out_col="cum_types")


Q181_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(
    [t for t in regexp_split_to_array(lower(text), '[^a-z0-9]+') if t <> '']
  )) AS w
  FROM documents
), fs AS (
  SELECT w, min(doc_id) AS doc_id FROM tok GROUP BY w
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY doc_id
), filled AS (
  SELECT d.doc_id, coalesce(p.n_new, 0) AS n_new
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN per_doc p USING (doc_id)
)
SELECT doc_id, CAST(n_new AS BIGINT) AS n_new,
       CAST(sum(n_new) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
FROM filled
"""


# Ordering contract (VERDICT r05 #1): the driver correctness artifact
# records only the FIRST 50 keys of this dict.  Rotation rule, recorded in
# CLAUDE.md: each round, queries WITHOUT a green row in any prior
# CORRECTNESS_r{N}.json artifact come first (new gates at the very top),
# then enough long-proven load-bearing queries to fill slot 50, then the
# long-proven remainder.  Cumulative proof ledger: DRIVER_LEDGER.json.
QUERIES: dict[str, tuple] = {
    # --- DRIVER ROTATION (r07, VERDICT r06 #1): the artifact records only
    # the first 50 keys. Slots 1-50: q111-q160 — oldest-unproven FIFO (they
    # were sequenced at positions 51+ in r06 exactly for this).
    "q111_hilbert": (q111_hilbert, Q111_SQL),
    "q112_inverted_index": (q112_inverted_index, Q112_SQL),
    "q113_staypoints": (q113_staypoints, Q113_SQL),
    "q114_density_clusters": (q114_density_clusters, Q114_SQL),
    "q115_od_flows": (q115_od_flows, Q115_SQL),
    "q116_pagerank": (q116_pagerank, Q116_SQL),
    "q117_mann_kendall": (q117_mann_kendall, Q117_SQL),
    "q118_cooccurrence": (q118_cooccurrence, Q118_SQL),
    "q119_getis_ord": (q119_getis_ord, Q119_SQL),
    "q120_lm_coverage": (q120_lm_coverage, Q120_SQL),
    "q121_hll_registers": (q121_hll_registers, Q121_SQL),
    "q122_hll_estimate": (q122_hll_estimate, Q122_SQL),
    "q123_hausdorff": (q123_hausdorff, Q123_SQL),
    "q124_dbscan": (q124_dbscan, Q124_SQL),
    "q125_cms_build": (q125_cms_build, Q125_SQL),
    "q126_cms_estimates": (q126_cms_estimates, Q126_SQL),
    "q127_triangles": (q127_triangles, Q127_SQL),
    "q128_funnel": (q128_funnel, Q128_SQL),
    "q129_cohort_retention": (q129_cohort_retention, Q129_SQL),
    "q130_skyline": (q130_skyline, Q130_SQL),
    "q131_cusum": (q131_cusum, Q131_SQL),
    "q132_profile": (q132_profile, Q132_SQL),
    "q133_bloom_bits": (q133_bloom_bits, Q133_SQL),
    "q134_bloom_probe": (q134_bloom_probe, Q134_SQL),
    "q135_simhash_pairs": (q135_simhash_pairs, Q135_SQL),
    "q136_snap_points": (q136_snap_points, Q136_SQL),
    "q137_d8_flow": (q137_d8_flow, Q137_SQL),
    "q138_hard_negatives": (q138_hard_negatives, Q138_SQL),
    "q139_quantize_int8": (q139_quantize_int8, Q139_SQL),
    "q140_quantized_ann": (q140_quantized_ann, Q140_SQL),
    "q141_speed_filter": (q141_speed_filter, Q141_SQL),
    "q142_flow_accumulation": (q142_flow_accumulation, Q142_SQL),
    "q143_winsorize": (q143_winsorize, Q143_SQL),
    "q144_chunk_text": (q144_chunk_text, Q144_SQL),
    "q145_url_keep_best": (q145_url_keep_best, Q145_SQL),
    "q146_knox": (q146_knox, Q146_SQL),
    "q147_jaccard_prefix": (q147_jaccard_prefix_join, Q147_SQL),
    "q148_sssp": (q148_sssp, Q148_SQL),
    "q149_interval_coverage": (q149_interval_coverage, Q149_SQL),
    "q150_ols_trend": (q150_ols_trend, Q150_SQL),
    "q151_mad": (q151_mad, Q151_SQL),
    "q152_mode": (q152_mode, Q152_SQL),
    "q153_ewma": (q153_ewma, _ewma_sql()),
    "q154_theil_sen": (q154_theil_sen, Q154_SQL),
    "q155_sorted_neighborhood": (q155_sorted_neighborhood, Q155_SQL),
    "q156_dtw": (q156_dtw, _dtw_sql()),
    "q157_rolling_median": (q157_rolling_median, Q157_SQL),
    "q158_scd2": (q158_scd2, Q158_SQL),
    "q159_kcore": (q159_kcore, _kcore_sql()),
    "q160_bloom_pruned_join": (q160_bloom_pruned_join, Q160_SQL),
    # --- positions 51-71: q161-q181, still unproven — they LEAD the r08
    # rotation (21 queries, fits in one artifact).
    "q161_time_weighted_avg": (q161_time_weighted_avg, Q161_SQL),
    "q162_gaps_islands": (q162_gaps_islands, Q162_SQL),
    "q163_bpe_tokenize": (q163_bpe_tokenize, _bpe_sql()),
    "q164_cms_join_size": (q164_cms_join_size, Q164_SQL),
    "q165_robust_outliers": (q165_robust_outliers, Q165_SQL),
    "q166_weighted_median": (q166_weighted_median, Q166_SQL),
    "q167_comovement": (q167_comovement, Q167_SQL),
    "q168_hhi": (q168_hhi, Q168_SQL),
    "q169_interpolate": (q169_interpolate, Q169_SQL),
    "q170_snapshot_diff": (q170_snapshot_diff, Q170_SQL),
    "q171_benford": (q171_benford, Q171_SQL),
    "q172_sax": (q172_sax, Q172_SQL),
    "q173_tree_root": (q173_tree_root, _tree_sql()),
    "q174_pearson": (q174_pearson, Q174_SQL),
    "q175_minmax_norm": (q175_minmax_norm, Q175_SQL),
    "q176_label_encode": (q176_label_encode, Q176_SQL),
    "q177_sliding_distinct": (q177_sliding_distinct, Q177_SQL),
    "q178_auc": (q178_auc, Q178_SQL),
    "q179_calibration": (q179_calibration, Q179_SQL),
    "q180_feature_hash": (q180_feature_hash, Q180_SQL),
    "q181_vocab_growth": (q181_vocab_growth, Q181_SQL),
    # --- long driver-proven queries (green rows in DRIVER_LEDGER.json;
    # q62-q110 + the re-pinned q33 all proved in CORRECTNESS_r06) ---
    "q62_salted_intersects": (q62_salted_intersects, Q45_SQL),
    "q63_video_frames": (q63_video_frames, Q63_SQL),
    "q64_pip_wkb": (q64_pip_wkb, Q41_SQL),
    "q65_pip_right_outer": (q65_pip_right_outer, Q65_SQL),
    "q66_pip_left_outer": (q66_pip_left_outer, Q66_SQL),
    "q67_percentiles": (q67_percentiles, Q67_SQL),
    "q68_analytic_windows": (q68_analytic_windows, Q68_SQL),
    "q69_distance_join": (q69_distance_join, Q69_SQL),
    "q70_pip_multires": (q70_pip_multires, Q70_SQL),
    "q71_decontaminate": (q71_decontaminate, Q71_SQL),
    "q72_corpus_quality": (q72_corpus_quality, Q72_SQL),
    "q73_quota_sample": (q73_quota_sample, Q73_SQL),
    "q74_pii_scrub": (q74_pii_scrub, Q74_SQL),
    "q75_boilerplate_lines": (q75_boilerplate_lines, Q75_SQL),
    "q76_intersects_right_outer": (q76_intersects_right_outer, Q76_SQL),
    "q77_heavy_hitters": (q77_heavy_hitters, Q77_SQL),
    "q78_knn_geodesic": (q78_knn_geodesic, Q78_SQL),
    "q79_buffer_area": (q79_buffer_area, Q79_SQL),
    "q80_set_ops": (q80_set_ops, Q80_SQL),
    "q81_bm25": (q81_bm25, Q81_SQL),
    "q82_erosion_area": (q82_erosion_area, Q82_SQL),
    "q83_zonal_stats": (q83_zonal_stats, Q83_SQL),
    "q84_range_window": (q84_range_window, Q84_SQL),
    "q85_convex_hull": (q85_convex_hull, Q85_SQL),
    "q86_pivot": (q86_pivot, Q86_SQL),
    "q87_focal_stats": (q87_focal_stats, Q87_SQL),
    "q88_geodesic_length": (q88_geodesic_length, Q88_SQL),
    "q89_anti_join": (q89_anti_join, Q89_SQL),
    "q90_union_by_name": (q90_union_by_name, Q90_SQL),
    "q91_grouping_sets": (q91_grouping_sets, Q91_SQL),
    "q92_date_arith": (q92_date_arith, Q92_SQL),
    "q93_sequence_packing": (q93_sequence_packing, Q93_SQL),
    "q94_zorder": (q94_zorder, Q94_SQL),
    "q95_contains_join": (q95_contains_join, Q95_SQL),
    "q96_intersects_multires": (q96_intersects_multires, Q96_SQL),
    "q97_correlated_subquery": (q97_correlated_subquery, Q97_SQL),
    "q33_ivf_ann": (q33_ivf_ann, _ivf_sql()),
    "q98_image_decode": (q98_image_decode, Q98_SQL),
    "q99_udtf_shingles": (q99_udtf_shingles, Q99_SQL),
    "q100_substring_containment": (q100_substring_containment, Q100_SQL),
    "q101_image_downsample": (q101_image_downsample, Q101_SQL),
    "q102_tfidf": (q102_tfidf, Q102_SQL),
    "q103_winnowing": (q103_winnowing, Q103_SQL),
    "q104_tile_pyramid": (q104_tile_pyramid, Q104_SQL),
    "q105_geohash": (q105_geohash, Q105_SQL),
    "q106_areal_interp": (q106_areal_interp, Q106_SQL),
    "q107_edit_distance": (q107_edit_distance, Q107_SQL),
    "q108_focal_gradient": (q108_focal_gradient, Q108_SQL),
    "q109_morans_i": (q109_morans_i, Q109_SQL),
    "q110_paragraph_dedup": (q110_paragraph_dedup, Q110_SQL),
    "q41_pip_join": (q41_pip_join, Q41_SQL),
    "q42_knn": (q42_knn, Q42_SQL),
    "q45_rect_intersects": (q45_rect_intersects, Q45_SQL),
    "q46_dissolve_area": (q46_dissolve_area, Q46_SQL),
    "q47_coverage_pct": (q47_coverage_pct, Q47_SQL),
    "q51_dedup_clusters": (q51_dedup_clusters, _q51_sql()),
    "q55_sessionize": (q55_sessionize, Q55_SQL),
    "q56_curation_pipeline": (q56_curation_pipeline, _q56_sql()),
    "q57_asof_join": (q57_asof_join, Q57_SQL),
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q05_topk_window": (q05_topk_window, Q05_SQL),
    "q26_minhash": (q26_minhash, _minhash_sql()),
    "q30_cosine_topk": (q30_cosine_topk, Q30_SQL),
    "q02_filter_orders": (q02_filter_orders, Q02_SQL),
    "q03_join_agg": (q03_join_agg, Q03_SQL),
    "q04_semi_join": (q04_semi_join, Q04_SQL),
    "q06_distinct_sort": (q06_distinct_sort, Q06_SQL),
    "q07_gap_fill": (q07_gap_fill, Q07_SQL),
    "q08_union_dedup": (q08_union_dedup, Q08_SQL),
    "q09_scalar_funcs": (q09_scalar_funcs, Q09_SQL),
    "q10_json_extract": (q10_json_extract, Q10_SQL),
    "q11_collect_set": (q11_collect_set, Q11_SQL),
    "q12_rollup": (q12_rollup, Q12_SQL),
    "q13_heat_weekly": (q13_heat_weekly, _heat_sql("W")),
    "q14_heat_hourly": (q14_heat_hourly, _heat_sql("H")),
    "q20_token_stats": (q20_token_stats, Q20_SQL),
    "q21_lang_id": (q21_lang_id, _lang_id_sql()),
    "q23_fingerprint_groups": (q23_fingerprint_groups, Q23_SQL),
    "q24_dedup_counts": (q24_dedup_counts, Q24_SQL),
    "q25_ngram_jaccard": (q25_ngram_jaccard, Q25_SQL),
    "q27_simhash": (q27_simhash, _simhash_sql()),
    "q28_media_features": (q28_media_features, _media_sql()),
    "q29_cdc_chunks": (q29_cdc_chunks, Q29_SQL),
    "q31_lsh_ann": (q31_lsh_ann, _lsh_ann_sql()),
    "q32_cosine_neardup": (q32_cosine_neardup, Q32_SQL),
    "q34_lsh_neardup": (q34_lsh_neardup, _lsh_neardup_sql()),
    "q40_cell_assign": (q40_cell_assign, Q40_SQL),
    "q43_bbox_area": (q43_bbox_area, Q43_SQL),
    "q44_tile_zonal": (q44_tile_zonal, Q44_SQL),
    "q48_river_intersects": (q48_river_intersects, Q48_SQL),
    "q49_river_length": (q49_river_length, Q49_SQL),
    "q50_river_crossings": (q50_river_crossings, Q50_SQL),
    "q52_repetition_quality": (q52_repetition_quality, Q52_SQL),
    "q53_train_split": (q53_train_split, Q53_SQL),
    "q54_url_normalize": (q54_url_normalize, Q54_SQL),
    "q58_interval_join": (q58_interval_join, Q58_SQL),
    "q59_stratified_sample": (q59_stratified_sample, Q59_SQL),
    "q60_vocabulary": (q60_vocabulary, Q60_SQL),
    "q61_simplify": (q61_simplify, Q61_SQL),
}
