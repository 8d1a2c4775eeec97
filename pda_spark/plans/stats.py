"""Registry statistics queries: HLL, count-min and Bloom sketches, order and
robust statistics, profiling and scoring metrics.

Builders and oracle SQL follow the conventions stated in registry.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pda_spark.functions import sketch
from pda_spark.plans.fixtures import _t


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


def q125_cms_build(spark, sf_dir):
    """Count-min sketch table (d=4, w=64) over the l_suppkey stream —
    the frequency sibling of the q121 HLL: d*w integer counters from
    one map-side-combinable grouped count, mergeable by union+re-sum.
    Hash seeds fold into the hashed string so both engines' md5 agree
    byte-for-byte."""
    li = _t(spark, sf_dir, "lineitem")
    return sketch.cms_build(li, "l_suppkey", d=4, w=64)


def _cms_sql(table: str, col: str) -> str:
    """SQL twin of sketch.cms_build(d=4, w=64) over `table`.`col`."""
    return f"""
WITH t AS (
  SELECT CAST({col} AS VARCHAR) AS v FROM {table}
), x AS (
  SELECT r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || v), 1, 12))::BIGINT % 64
           AS bucket
  FROM t, unnest(generate_series(0, 3)) AS s(r)
)
SELECT r AS hrow, bucket, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY 1, 2
"""


Q125_SQL = _cms_sql("lineitem", "l_suppkey")


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


_CMS_SUP_SQL = _cms_sql("supplier", "s_suppkey")

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
