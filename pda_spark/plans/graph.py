"""Registry graph queries: PageRank, triangles, shortest paths, k-core and
forest roots.

Builders and oracle SQL follow the conventions stated in registry.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pda_spark.functions import graph
from pda_spark.plans.fixtures import _t


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
