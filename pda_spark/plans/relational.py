"""Registry relational queries: scans, filters, joins, aggregates, windows, set
operations and pivots.

Builders and oracle SQL follow the conventions stated in registry.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pda_spark.plans.fixtures import _t


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
    # Spark HALF_UP vs DuckDB at half-way doubles).
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
