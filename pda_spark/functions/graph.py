"""Connected components over candidate-pair edges — dedup clustering.

The missing last step of fuzzy dedup: MinHash-LSH banding (dedup.py)
yields candidate PAIRS, but a training-data pipeline needs CLUSTERS
(each document labeled with a canonical representative) so that "keep
one doc per near-dup group" is a single filter.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame rounds. Each round is one symmetrize (map-side union), one
``groupBy(min)`` and one equi-join on the node id — the published
O(log n)-round shape that runs on trillion-edge graphs. No driver-side
graph state: the driver loop only compares an aggregate fingerprint per
round (a count plus a hash sum) to detect the fixed point, and
``localCheckpoint`` truncates the growing lineage each round.

Scale notes (100 TB): near-dup candidate graphs are a forest of small
dense blobs (boilerplate clusters), so the min-aggregation per round is
map-side combinable and the join keys are the nodes themselves —
skewed super-clusters (a hot template shared by millions of pages)
concentrate on the cluster-min key only in the FINAL star, and the
per-round neighborhoods stay bounded by the star contraction. Round
count is O(log n) by the paper's potential argument; real web dedup
graphs converge in < 10 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pda_spark.session import keyed_width


def _stars(edges: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large-star (attach bigger neighbors to the local min) or
    small-star (attach smaller neighbors and self to the local min)
    round. ``edges`` is an undirected edge list (u, v), u != v.

    ``dedup=False`` skips the output dropDuplicates (one shuffle): valid
    whenever the consumer is another _stars round, whose min-aggregate
    is multiplicity-insensitive. Only the per-round FINAL edge set needs
    dedup (the convergence fingerprint hash-sums rows, so multiplicity
    must be canonical there)."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
    )
    j = sym.join(mins, "u")
    if large:
        out = j.filter(F.col("v") > F.col("u")).select(F.col("v").alias("u"), F.col("m").alias("v"))
    else:
        smaller = j.filter(F.col("v") < F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        out = smaller.union(mins.select(F.col("u"), F.col("m").alias("v")))
    out = out.filter(F.col("u") != F.col("v"))
    return out.dropDuplicates(["u", "v"]) if dedup else out


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 45
) -> DataFrame:
    """(id, component) for every id in ``edges``; component = the
    minimum id of the connected component. Ids must be non-null longs
    (or any orderable type with a total min).

    Raises RuntimeError if the fixed point is not reached in
    ``max_iter`` large+small rounds. Round count is O(log n) in the
    largest component's size (measured: a 200k-vertex pure chain takes
    19); 45 covers even a single 10^12-vertex path — beyond any real
    candidate-pair graph — while still bounding a logic bug to minutes,
    not forever.

    Min-neighbor contraction pre-pass (round-6 perf): before iterating,
    every vertex contracts to ``m(a) = min(a, min neighbor of a)`` and
    the star rounds run on the QUOTIENT graph ``(m(u), m(v))`` only.
    Dense blobs — cliques from DBSCAN eps-blobs, LSH boilerplate
    templates — collapse to a single quotient vertex in this one
    map-side-combinable pass, so the O(edges)-per-round fixed-point
    loop never sees them (q124: CC leg 37.9 -> ~4 s, A/B in
    BENCH/BASELINE.md). Labels are unchanged: the component's global
    min g has m(g) = g, so quotient component mins ARE original
    component mins, and ``label(a) = quotient_label(m(a))``.
    """
    raw = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=False)
    )
    sym = raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        .localCheckpoint(eager=False)
    )
    e = (
        raw.join(m.select(F.col("u"), F.col("m").alias("_mu")), "u")
        .join(m.select(F.col("u").alias("v"), F.col("m").alias("_mv")), "v")
        .select(F.col("_mu").alias("u"), F.col("_mv").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=False)
    )
    prev_fp = None
    for _ in range(max_iter):
        # Lazy checkpoint: the fingerprint aggregate below is the action
        # that materializes it — one job per round, not two. (TWO
        # measured NON-fixes stand here: (a) probing every other pair
        # WITHOUT the inter-pair dedup compounds multiplicity across
        # four un-deduped star stages — 350 vs 311 s on the 10M-node
        # chain, round 6; (b) round 7 re-tried it WITH the dedup kept
        # per VERDICT r06 #3a — on the now-contracted quotient graphs
        # the per-pair shuffle chain dominates, not the barrier, and
        # the trailing already-converged pairs are pure overhead:
        # q124 5.5 -> 13.0 s, q51 1.4 -> 4.1 s at sf1.0, reverted.
        # The barrier cost this targets only matters when rounds are
        # many AND heavy, which the contraction pre-pass now prevents.)
        e = _stars(_stars(e, large=True, dedup=False), large=False).localCheckpoint(eager=False)
        # Fixed-point probe: one tiny aggregate per round, no collect of
        # the edge set itself. Each hash is pmod-folded BEFORE the sum
        # (ANSI mode overflows on sum(raw xxhash64)), which leaves only
        # ~30 bits of entropy per sum — so TWO independent folds (seeded
        # by column order, distinct primes) are combined: a false
        # positive needs consecutive non-equal edge sets to collide in
        # count, min, max AND both ~30-bit sums simultaneously (~2^-60).
        fp = tuple(
            e.agg(
                F.count(F.lit(1)),
                F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))),
                F.sum(F.pmod(F.xxhash64("v", "u"), F.lit(998_244_353))),
                F.min("u"),
                F.max("u"),
            ).first()
        )
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"connected_components: no fixed point after {max_iter} rounds")
    # At the fixed point the QUOTIENT edge set is a star forest: every
    # edge is (quotient-vertex, component-min). A quotient vertex absent
    # from the star forest (its blob fully collapsed in the pre-pass, or
    # it was isolated in the quotient) is its own component min. Map the
    # quotient label back through m(a): label(a) = label_q(m(a)) | m(a).
    q_labels = e.select(F.col("u").alias("m"), F.col("v").alias("component"))
    return (
        m.join(q_labels, "m", "left")
        .select(
            F.col("u").alias("id"),
            F.coalesce(F.col("component"), F.col("m")).alias("component"),
        )
        .localCheckpoint(eager=False)
    )


def dedup_cluster_labels(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Every doc labeled with its near-dup cluster id (component min;
    docs with no candidate pair become their own singleton cluster) and
    the cluster size. 'Keep one per cluster' is then
    ``filter(doc_id == cluster_id)``."""
    from pyspark.sql import Window

    comp = connected_components(pairs, src, dst)
    labeled = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )
    w = Window.partitionBy("cluster_id")
    return labeled.withColumn("cluster_size", F.count(F.lit(1)).over(w))


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-iteration PageRank (the link-analysis rollup a web-corpus
    curation pipeline runs over its crawl graph — frontier priority and
    spam-mass both derive from it). Unnormalized textbook form: r_0 = 1,
    r_{k+1}(v) = (1-d) + d * sum_{u->v} r_k(u) / outdeg(u); nodes with
    no in-links settle at (1-d), dangling nodes keep their rank but do
    not redistribute it (the standard simplification — at web scale the
    dangling-mass term is a scalar correction, omitted here so every
    iteration is pure join+aggregate).

    Scale shape per iteration: ONE equi-join of the edge table with the
    node-sized rank table on src (broadcast-able whenever ranks fit, and
    at 10^12 edges the join is the published shuffle-on-src shape), then
    one map-side-combinable groupBy on dst, then a left join back to the
    node set. No driver-side collect anywhere; `iters` bounds the DAG.

    Exactness note (the q116 oracle relies on it): with damping=0.5 and
    a uniform power-of-two out-degree every intermediate is an exact
    dyadic rational, so IEEE addition is associative for these values
    and DuckDB replays the floats bit-for-bit in any order.
    """
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("_deg"))
    e = (
        edges.join(deg, src)
        .select(F.col(src).alias("_src"), F.col(dst).alias("_dst"), "_deg")
        .localCheckpoint(eager=False)
    )
    r = nodes.select(F.col(id_col).alias("_id"), F.lit(1.0).alias("_r"))
    for _ in range(iters):
        contrib = (
            e.join(r, e["_src"] == r["_id"])
            .groupBy("_dst")
            .agg(F.sum(F.col("_r") / F.col("_deg")).alias("_s"))
        )
        r = (
            nodes.select(F.col(id_col).alias("_id"))
            .join(contrib, F.col("_id") == F.col("_dst"), "left")
            .select(
                "_id",
                (F.lit(1.0 - damping) + F.lit(damping) * F.coalesce("_s", F.lit(0.0))).alias("_r"),
            )
            .localCheckpoint(eager=False)
        )
    return r.select(F.col("_id").alias(id_col), F.col("_r").alias("rank"))


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst", broadcast_close: bool = False
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    (one row per node in >= 1 triangle: (id, n_tri); the global count
    is sum/3). Input edges may be directed/duplicated — they are
    canonicalized and deduped first.

    Scale shape: the classic degree-ordered orientation (Schank &
    Wagner / Cohen's MR triangle counting) — every edge points from
    its lower-(degree, id) endpoint to the higher, wedges are built
    only at the LOW-rank apex, and each triangle is found exactly once
    by probing the oriented edge that closes the wedge. The wedge
    count is then bounded by sum over nodes of out_degree^2 with
    out-degree <= O(sqrt(m)) (graph arboricity), which is what keeps a
    skewed 100 TB graph from exploding — a hub of degree d contributes
    d wedges as a spoke, not d^2 as an apex. Three shuffles total
    (degree, wedge join, closing probe), all equi-joins.

    Rank packing contract: rank = degree * 2^40 + id must fit int64,
    i.e. ids < 2^40 and degrees < 2^23 (document, not check — a lazy
    plan can't validate).

    ``broadcast_close=True`` ships the oriented edge list to every task
    and probes it hash-side for the closing edge, so the wedge stream —
    the volume term, bounded by sum(out_deg^2), 41M rows for q127's
    1.2M-edge co-purchase graph — never shuffles: wedge generation,
    closing probe and the member explode fuse into one codegen stage
    (q127 16.6 -> ~4 s). Only for edge lists that fit an executor
    (<= a few 10M edges); the default keeps the shuffle join, the
    correct shape when the graph itself is beyond broadcast."""
    u, v = F.col(src), F.col(dst)
    # localCheckpoint (lazy): e is consumed by the degree count AND the
    # rank join, o by BOTH wedge legs and the closing probe — without
    # the checkpoint Spark re-derives the whole upstream (often an
    # expensive distinct over a pair self-join) once per reference.
    e = (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    rk = (F.col("deg") * F.lit(1 << 40) + F.col("id")).alias("rk")
    ranks = deg.select("id", rk)
    er = (
        e.join(ranks.select(F.col("id").alias("u"), F.col("rk").alias("_ru")), "u")
        .join(ranks.select(F.col("id").alias("v"), F.col("rk").alias("_rv")), "v")
    )
    low_first = F.col("_ru") < F.col("_rv")
    # explicit apex partitioning (round-7): the wedge stage expands
    # out_deg(a)^2 rows per apex — compute-heavy on few input BYTES, so
    # AQE's size-based coalescing squeezed it onto ~10 tasks (q127 8.9 s
    # at sf0.1). A user count is exempt from coalescing, the self-join
    # on "a" reuses the one exchange (localCheckpoint preserves the
    # partitioning), and 2x parallelism (session.keyed_width) keeps the
    # apex-skew tail short.
    o = (
        er.select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.greatest("_ru", "_rv").alias("rb"),
        )
        .repartition(keyed_width(edges), "a")
        .localCheckpoint(eager=False)
    )
    wedges = (
        o.select("a", F.col("b").alias("x"), F.col("rb").alias("rx"))
        .join(o.select("a", F.col("b").alias("y"), F.col("rb").alias("ry")), "a")
        .filter(F.col("rx") < F.col("ry"))
    )
    if broadcast_close:
        # single-long join key (xxhash64 of the pair, equality
        # re-verified post-join so collisions only cost a compare, never
        # a wrong row): a one-column long key builds the fast
        # LongHashedRelation instead of the row-comparing two-key
        # UnsafeHashedRelation — ~10% off the 41M-probe stage that
        # dominates q127 (measured A/B at sf0.1; the probe volume
        # itself, sum(out_deg^2), is this algorithm's floor — width-
        # insensitive: 13-vs-64-task A/B was a wash, coalesce-off worse)
        closing = F.broadcast(
            o.select(
                F.xxhash64("a", "b").alias("_h"),
                F.col("a").alias("_cx"),
                F.col("b").alias("_cy"),
            )
        )
        tri = (
            wedges.withColumn("_h", F.xxhash64("x", "y"))
            .join(closing, "_h")
            .filter((F.col("x") == F.col("_cx")) & (F.col("y") == F.col("_cy")))
            .select("a", "x", "y")
        )
    else:
        closing = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
        tri = wedges.join(closing, ["x", "y"]).select("a", "x", "y")
    member = F.explode(F.array("a", "x", "y")).alias("id")
    return tri.select(member).groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    id_col: str = "id",
) -> DataFrame:
    """Hop-bounded single-source (multi-source) shortest paths: for
    every node reachable from ``sources`` in <= ``rounds`` edges, the
    minimum total weight over all such paths — the distributed
    Bellman-Ford relaxation, the bounded-iteration sibling of
    ``pagerank`` (and the last member of the graph family: CC /
    PageRank / triangles / SSSP). Weights must be non-negative
    integers (exact int64 arithmetic end-to-end).

    Each round is ONE equi-join (current frontier x out-edges) and ONE
    map-side-combinable grouped min — no driver state, no fixed-point
    probe (the hop bound is the contract, so zero actions run inside
    the loop; lazy localCheckpoints truncate lineage when the consumer
    finally executes). At 100 TB this is the standard k-hop
    reachability-with-cost shape: the frontier table is the only state
    shuffled per round, keyed by node id.

    Returns (id, dist) with dist = 0 for the sources themselves."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = edges.select(
        F.col(src).alias("id"),
        F.col(dst).alias("_to"),
        F.col(weight).cast("long").alias("_w"),
    )
    dist = sources.select(F.col(id_col).alias("id"), F.lit(0).cast("long").alias("dist"))
    for _ in range(rounds):
        relaxed = dist.join(e, "id").select(
            F.col("_to").alias("id"), (F.col("dist") + F.col("_w")).alias("dist")
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """``rounds`` iterations of k-core peeling over an undirected graph
    (Seidman 1983; the degeneracy-ordering building block of community
    and spam detection): each round drops every node whose degree in
    the SURVIVING subgraph is < k, then the edges touching it. Once no
    node drops, the survivors ARE the k-core and further rounds are
    no-ops — the fixed ``rounds`` contract (the q148 SSSP discipline:
    zero in-loop actions, the round count IS the spec, and an oracle
    unrolls the identical rounds; callers size ``rounds`` to their
    graph's peel depth — dense web/co-occurrence graphs peel in a
    handful). Returns surviving (id, deg) after the last round.

    Each round: one symmetrize union + one map-side-combinable degree
    count + one semi-join filter of the edge list — the frontier
    never leaves the cluster."""
    if k < 1 or rounds < 0:
        raise ValueError(f"need k >= 1, rounds >= 0, got k={k} rounds={rounds}")

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("id"))
            .unionAll(ed.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )

    e = (
        edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                     F.greatest(F.col(src), F.col(dst)).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        alive = degrees(e).filter(F.col("deg") >= F.lit(k))
        e = (
            e.join(alive.select(F.col("id").alias("u")), "u", "left_semi")
            .join(alive.select(F.col("id").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    # degrees w.r.t. the SURVIVING edge set, so (id, deg) is
    # self-consistent after the last filter
    return degrees(e)


def tree_root_depth(
    parent: DataFrame,
    rounds: int,
    id_col: str = "id",
    parent_col: str = "parent",
) -> DataFrame:
    """Root and depth for every node of a parent-pointer FOREST (reply
    chains, category trees, org charts): pointer doubling — each round
    composes the ancestor map with itself, so a chain of depth d
    resolves in ceil(log2(d)) rounds (the q142 flow-accumulation
    technique as a reusable relational op). Roots are nodes absent
    from ``parent``'s id side or with NULL parent; depth = #edges to
    the root. ``rounds`` bounds the reachable depth at 2^rounds (the
    q148 fixed-rounds contract — callers size it; 20 covers depth 1M).

    Each round: ONE self-join of the (node -> ancestor, hops) map on
    the ancestor key + a min-hop... no min needed: the doubled map is
    a FUNCTION (one ancestor per node), so composition is exactly one
    left join + coalesce — nodes whose ancestor is already the root
    keep it. All integer; zero in-loop actions."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    m = parent.select(
        F.col(id_col).alias("id"),
        F.col(parent_col).alias("anc"),
        F.lit(1).cast("long").alias("d"),
    ).filter(F.col("anc").isNotNull())
    # nodes table: everything appearing anywhere (ids + parents)
    nodes = (
        parent.select(F.col(id_col).alias("id"))
        .unionAll(parent.select(F.col(parent_col).alias("id")))
        .filter(F.col("id").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    m = m.localCheckpoint(eager=False)
    for _ in range(rounds):
        m2 = m.select(F.col("id").alias("_i"), F.col("anc").alias("_a"), F.col("d").alias("_d"))
        j = m.join(
            m2.select(F.col("_i").alias("anc"), F.col("_a"), F.col("_d")), "anc", "left"
        )
        m = j.select(
            "id",
            F.coalesce(F.col("_a"), F.col("anc")).alias("anc"),
            (F.col("d") + F.coalesce(F.col("_d"), F.lit(0))).alias("d"),
        ).localCheckpoint(eager=False)
    return (
        nodes.join(m, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("anc"), F.col("id")).alias("root"),
            F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("depth"),
        )
    )
