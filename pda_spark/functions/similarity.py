"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: the dot product runs
JVM-side via ``aggregate(zip_with(...))`` — no Python in the loop — and
the top-k is a window. The scale path is random-hyperplane LSH bucketing
(IVF-style candidate pruning): deterministic planes are generated on the
driver from a seed, shipped as literals, and both stages stay JVM-side.

Scale notes (100 TB): brute force is O(n_queries * n_vectors) but fully
scan-parallel with a broadcast query set — the right baseline shape.
LSH cuts candidates by ~2^n_planes with recall traded via multi-probe
(hamming-adjacent buckets). Window top-k shuffles only candidates, keyed
by query id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pda_spark.session import spread


def _dot(a: str, b: str) -> F.Column:
    # NOTE (round-7 measured NON-fix): unrolling this into a fixed-dim
    # 0.0 + a[0]*b[0] + ... codegen chain is bit-identical but SLOWER —
    # 64-term trees blow janino's limits, whole-stage codegen falls back
    # to interpreted for the whole stage, and the deep Add tree evals
    # worse than this tight HOF loop (q34 64 -> 148 s, q33 4.7 -> 18 s
    # at sf1.0; both reverted). The real lever for the O(candidates)
    # refine stages is PARALLELISM: the sub-4MB embeddings scan is 2
    # splits, so the callers spread with repartition before pair work.
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), 0.0D, (acc, v) -> acc + v)")


def _norm(a: str) -> F.Column:
    return F.sqrt(F.expr(f"aggregate({a}, 0.0D, (acc, v) -> acc + cast(v as double) * cast(v as double))"))


def with_cosine(
    df: DataFrame,
    vec_a: str,
    vec_b: str,
    out: str = "cosine",
    norm_a: str | None = None,
    norm_b: str | None = None,
) -> DataFrame:
    """cosine = round(dot / (|a| * |b|), 6). Pass ``norm_a``/``norm_b``
    columns holding precomputed ``_norm`` values to hoist the norm out
    of a pair join (per-VECTOR instead of per-PAIR work — bit-identical
    result, the division sees the exact same operands)."""
    na = F.col(norm_a) if norm_a else _norm(vec_a)
    nb = F.col(norm_b) if norm_b else _norm(vec_b)
    return df.withColumn(out, F.round(_dot(vec_a, vec_b) / (na * nb), 6))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "q_embedding",
    query_id_col: str = "q_id",
    pair_filter: F.Column | None = None,
    select_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast queries x full scan,
    JVM-side dot products, window top-k per query (deterministic
    tie-break on vector id). ``pair_filter`` drops candidate pairs
    BEFORE ranking (e.g. the hard-negative label-mismatch predicate);
    ``select_extra`` carries additional vector-side columns through to
    the output."""
    cand = spread(vectors).withColumn("_nv", _norm(vec_col)).crossJoin(
        F.broadcast(queries.withColumn("_nq", _norm(query_vec_col)))
    )
    if pair_filter is not None:
        cand = cand.filter(pair_filter)
    cand = with_cosine(cand, vec_col, query_vec_col, norm_a="_nv", norm_b="_nq")
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, *select_extra, "cosine", "rank")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    probe_radius: int = 1,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, cosine) for all pairs
    with cosine >= threshold (id_a < id_b).

    ``exact=True``: block-nested self-join (crossJoin + id ordering) with
    the dot product JVM-side — O(n^2/2) candidate pairs, fully
    scan-parallel; the correct baseline and the oracle-checkable path.

    ``exact=False``: the 100 TB path — candidates restricted to pairs
    whose LSH buckets are within hamming distance ``probe_radius``
    (signature bits disagree on few planes), then the exact cosine
    refine. Recall < 1 by construction (pytest pins recall vs the exact
    path); candidate count ~ n^2 / 2^n_planes per probe instead of n^2.
    """
    if exact:
        # norms hoisted to per-vector columns (round-6: they were
        # evaluated per PAIR inside the join — 2/3 of the O(n^2)
        # interpreted-HOF work for the identical bits); block-parallel:
        # the stream side of the broadcast nested-loop join is otherwise
        # ONE sub-4MB parquet split (openCostInBytes floor) and the
        # whole n^2 runs in a single task; this is pure JVM (no Arrow
        # workers), so spreading is safe on this host
        a = spread(
            vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        ).withColumn("_na", _norm("_va"))
        b = vectors.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
        ).withColumn("_nb", _norm("_vb"))
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        cand = with_cosine(cand, "_va", "_vb", norm_a="_na", norm_b="_nb")
        return cand.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")

    # LSH path (round-7): the candidate refine runs as a per-bucket
    # numpy kernel (cogrouped applyInPandas — guide-§4.2 "hand whole
    # batches to native code") instead of materializing ~14M JVM pair
    # rows each paying an interpreted 64-term HOF fold (q34 at sf1.0).
    # Only (id, vector) rows shuffle, keyed by bucket; every float op
    # replays the JVM sequence EXACTLY: dot and norm^2 accumulate over
    # the dimension index in order ((0 + x0*y0) + x1*y1 + ... — numpy
    # elementwise ops are IEEE-exactly-rounded like the HOF fold),
    # float32 -> float64 widening is exact, and the authoritative
    # round-then-threshold runs back in the JVM on the shipped
    # (dot, na, nb) doubles — the Python side only pre-filters with a
    # conservative margin, so BigDecimal HALF_UP rounding semantics
    # never move to numpy. Recall/pair semantics unchanged: mask-explode
    # only side a; a pair within hamming distance probe_radius meets on
    # exactly ONE (a-probe, b-home) bucket, so no dedup is needed.
    import numpy as np
    import pandas as pd

    planes = hyperplanes(dim, n_planes, seed)
    masks = probe_masks(n_planes, probe_radius)
    # spread before the bucket expressions (8 HOF dots per vector — the
    # 2-split scan would cap them at 2 cores); the bucket shuffle that
    # feeds the cogroup follows anyway
    av = spread(
        vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    ).withColumn("_home", lsh_bucket_expr("_va", planes))
    av = av.withColumn(
        "_bucket", F.explode(F.array(*[F.col("_home").bitwiseXOR(F.lit(m)) for m in masks]))
    ).drop("_home")
    bv = spread(
        vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    ).withColumn("_bucket", lsh_bucket_expr("_vb", planes))
    pre_thresh = threshold - 1e-6

    def refine(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": left["id_a"].iloc[:0], "id_b": right["id_b"].iloc[:0],
             "dot": pd.Series(dtype="float64"), "na": pd.Series(dtype="float64"),
             "nb": pd.Series(dtype="float64")}
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        A = np.stack([np.asarray(v, dtype=np.float64) for v in left["_va"]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in right["_vb"]])
        ia = left["id_a"].to_numpy()
        ib = right["id_b"].to_numpy()
        # k-ordered accumulation == the JVM fold's op sequence, element
        # by element (never a BLAS matmul — blocked summation would
        # change the rounding path)
        na2 = np.zeros(len(A))
        for k in range(A.shape[1]):
            na2 += A[:, k] * A[:, k]
        nb2 = np.zeros(len(B))
        for k in range(B.shape[1]):
            nb2 += B[:, k] * B[:, k]
        na = np.sqrt(na2)
        nb = np.sqrt(nb2)
        C = np.zeros((len(A), len(B)))
        for k in range(A.shape[1]):
            C += np.multiply.outer(A[:, k], B[:, k])
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = C / np.multiply.outer(na, nb)
        # zero-norm vectors make cos NaN; ship those pairs through so the
        # JVM round/threshold raises the SAME loud error the exact path
        # (and the pre-rewrite LSH path) raises — a silent numpy drop
        # would swallow a data-quality signal (round-7 review)
        degenerate = (na[:, None] == 0.0) | (nb[None, :] == 0.0)
        keep = (ia[:, None] < ib[None, :]) & ((cos >= pre_thresh) | degenerate)
        if not keep.any():
            return empty
        r, c = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": ia[r], "id_b": ib[c], "dot": C[r, c], "na": na[r], "nb": nb[c]}
        )

    # output id columns keep the INPUT id type (ids are any orderable
    # type — the exact path's contract; round-7 review caught a
    # hardcoded long here)
    id_t = vectors.schema[id_col].dataType.simpleString()
    cand = (
        av.groupBy("_bucket")
        .cogroup(bv.groupBy("_bucket"))
        .applyInPandas(
            refine, f"id_a {id_t}, id_b {id_t}, dot double, na double, nb double"
        )
    )
    cand = cand.withColumn(
        "cosine", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    )
    return cand.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def ivf_centroids(
    vectors: DataFrame, n_centroids: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic coarse 'training': the n lowest-id vectors serve as
    centroids — the stand-in for an offline k-means fit (which at scale
    is its own batch job producing exactly such a centroid list). One
    driver-edge collect of n rows."""
    rows = vectors.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    return [[float(x) for x in r[0]] for r in rows]


def _arr_lit(vals: list[float]) -> str:
    return "array(" + ",".join(f"{x}D" for x in vals) + ")"


def kmeans_fit(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale_bits: int = 24,
) -> tuple[list[list[float]], list[float]]:
    """Distributed spherical Lloyd fit for IVF coarse quantizers
    (VERDICT r5 #7 — replaces the lowest-id-vectors stand-in with a real
    bounded-iteration fit). Per iteration: centroids broadcast as
    literals, every vector assigns to its max-cosine centroid (the SAME
    assignment expression ``ivf_topk`` uses, JVM-side), and the update
    is one map-side-combinable groupBy over ``posexplode`` — shuffled
    rows per iteration = n_centroids * dim * n_partitions partials, the
    collect is n_centroids * dim rows. No corpus-sized state anywhere.

    DETERMINISM: the update accumulates round(v_i/|v| * 2^scale_bits) as
    int64 — integer sums are order-independent, so the fitted centroids
    are bit-identical under any partitioning / core count (a float sum
    would make the fit depend on partition order). The objective history
    (mean cosine to the assigned centroid, one float per iteration) IS
    an unordered float sum — monotonicity asserts use a tolerance.
    Updating with NORMALIZED vectors is spherical k-means proper: the
    mean of unit vectors is the direction maximizing the summed cosine,
    so each Lloyd step is non-decreasing in the objective. Empty
    clusters keep their previous centroid. int64 headroom: |sum| <=
    2^scale_bits * n_rows, fine through ~2^39 rows per cluster.

    Returns ``(centroids, history)``; centroids feed ``ivf_topk`` (and
    the pinned-literal oracle path) unchanged."""
    import math

    # zero-norm vectors are undefined under spherical k-means (0/0
    # poisons centroid seeds AND partial sums with NaN / ANSI div-0 —
    # round-6 review); excluded from the fit up front, matching the
    # documented unit-sphere contract
    vectors = vectors.filter(_norm(vec_col) > 0)
    cents = ivf_centroids(vectors, n_centroids, id_col, vec_col)
    scale = float(1 << scale_bits)
    history: list[float] = []
    for _ in range(n_iter):
        norms = [repr(math.sqrt(sum(x * x for x in c))) for c in cents]
        sc = F.array(
            *[
                (_dot(vec_col, _arr_lit(c)) / F.expr(f"{n}D"))
                for c, n in zip(cents, norms)
            ]
        )
        assigned = vectors.select(
            F.col(vec_col).alias("_v"),
            sc.alias("_sc"),
            _norm(vec_col).alias("_vn"),
        ).select(
            F.array_position(F.col("_sc"), F.array_max(F.col("_sc"))).alias("_cid"),
            (F.array_max(F.col("_sc")) / F.col("_vn")).alias("_sim"),
            "_v",
            "_vn",
        )
        ex = assigned.select(
            "_cid", "_sim", "_vn", F.posexplode(F.col("_v")).alias("_pos", "_val")
        )
        rows = (
            ex.groupBy("_cid", "_pos")
            .agg(
                F.sum(
                    F.round(F.col("_val").cast("double") / F.col("_vn") * scale).cast(
                        "long"
                    )
                ).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
                F.sum("_sim").alias("_simsum"),
            )
            .collect()
        )
        dim = len(cents[0])
        new = [list(c) for c in cents]  # empty clusters keep previous
        counts = [0] * n_centroids
        sim_total, n_total = 0.0, 0
        for r in rows:
            cid, pos = int(r["_cid"]) - 1, int(r["_pos"])
            counts[cid] = int(r["_n"])
            new[cid][pos] = int(r["_s"]) / (scale * int(r["_n"]))
            if pos == 0:
                sim_total += float(r["_simsum"])
                n_total += int(r["_n"])
        assert all(len(c) == dim for c in new)
        history.append(sim_total / max(n_total, 1))
        cents = new
    return cents, history


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: list[list[float]],
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "q_embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """IVF approximate top-k: vectors coarse-quantize to their nearest
    centroid (argmax dot(v,c)/|c| — norm(v) cancels, so this is cosine
    assignment), queries probe the ``n_probe`` nearest centroid lists,
    exact cosine refines. Everything is JVM-side (literal centroid
    arrays, whole-stage-codegen'd argmax/sort); the vector side never
    shuffles (queries broadcast). Recall traded via n_probe; measured
    0.96 at n_probe=2 over the synthetic embeddings (vs 0.62 for
    6-plane LSH at radius 2 scanning 3x more candidates)."""

    import math

    # centroid norms are driver-side constants: embedding them as float
    # literals (rather than per-row sqrt(dot(c,c)) folds over constant
    # arrays) shrinks the expression tree ~2x; the oracle embeds the SAME
    # literals, so IEEE identity is preserved by construction
    norms = [repr(math.sqrt(sum(x * x for x in c))) for c in centroids]

    def scores(vec: str) -> F.Column:
        return F.array(
            *[
                (_dot(vec, _arr_lit(c)) / F.expr(f"{n}D"))
                for c, n in zip(centroids, norms)
            ]
        )

    v = spread(vectors).withColumn("_sc", scores(vec_col)).withColumn(
        "_cid", F.array_position(F.col("_sc"), F.array_max(F.col("_sc")))
    ).drop("_sc")
    probe_structs = F.array(
        *[
            F.struct(
                (_dot(query_vec_col, _arr_lit(c)) / F.expr(f"{n}D")).alias("s"),
                F.lit(i + 1).cast("long").alias("c"),
            )
            for i, (c, n) in enumerate(zip(centroids, norms))
        ]
    )
    q = queries.withColumn(
        "_probe", F.explode(F.slice(F.reverse(F.array_sort(probe_structs)), 1, n_probe))
    ).withColumn("_cid", F.col("_probe.c")).drop("_probe")
    cand = v.join(F.broadcast(q), on="_cid").drop("_cid")
    cand = with_cosine(cand, vec_col, query_vec_col)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Random-hyperplane signature: bit i = sign(v . plane_i). Pure SQL.

    Guards against a plane/vector dim mismatch at runtime: zip_with pads
    the shorter array with nulls, which would silently collapse every
    bucket to 0 (observed with dim=16 planes over 64-dim embeddings)."""
    dim = len(planes[0])
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"{x}D" for x in p) + ")"
        bit = F.when(_dot(vec_col, arr) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return F.when(
        F.size(vec_col) != F.lit(dim),
        F.raise_error(F.lit(f"lsh_bucket_expr: vector dim != plane dim {dim}")),
    ).otherwise(bucket.cast("long"))


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks with popcount <= radius (multi-probe LSH): the query
    probes its own bucket plus every bucket within hamming distance
    ``radius`` — the standard recall/candidate-count dial."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 8,
    dim: int = 16,
    seed: int = 42,
    probe_radius: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "q_embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Approximate top-k: join on LSH bucket (multi-probe within hamming
    distance ``probe_radius``), refine with exact cosine.

    Recall < 1 by construction; tests pin recall >= threshold against the
    brute-force baseline rather than exact equality. Scale shape: the
    vector side computes one JVM-side bucket and never shuffles (queries
    broadcast, fanned out x n_probes); candidates ~ n/2^n_planes per probe.
    Pairs never duplicate: each vector lives in exactly one bucket and
    probe buckets are distinct.
    """
    planes = hyperplanes(dim, n_planes, seed)
    masks = probe_masks(n_planes, probe_radius)
    v = spread(vectors).withColumn("_bucket", lsh_bucket_expr(vec_col, planes))
    q = queries.withColumn("_home", lsh_bucket_expr(query_vec_col, planes))
    q = q.withColumn(
        "_bucket",
        F.explode(F.array(*[F.col("_home").bitwiseXOR(F.lit(m)) for m in masks])),
    ).drop("_home")
    cand = v.join(F.broadcast(q), on="_bucket")
    cand = with_cosine(cand, vec_col, query_vec_col)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def hard_negatives(
    vectors: DataFrame,
    anchors: DataFrame,
    k: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    anchor_vec_col: str = "a_embedding",
    anchor_id_col: str = "a_id",
    anchor_label_col: str = "a_label",
) -> DataFrame:
    """Hard-negative mining for contrastive / metric training: for each
    anchor, the top-k most-cosine-similar vectors whose LABEL DIFFERS
    from the anchor's — the highest-loss negatives a triplet/InfoNCE
    pipeline feeds back into training (the standard corpus-curation op
    beside dedup and decontamination).

    A thin ``cosine_topk`` wrapper (one cosine discipline, one place —
    hoisted norms, rounded-6 score, id tiebreak): the label-mismatch
    predicate rides the ``pair_filter`` hook. At corpus scale compose
    ``ivf_topk`` with the same filter (probe k' > k then filter, the
    labelled scale path). Self-pairs are excluded by the label filter
    alone (an anchor's own row shares its label)."""
    return cosine_topk(
        vectors,
        anchors,
        k,
        vec_col=vec_col,
        id_col=id_col,
        query_vec_col=anchor_vec_col,
        query_id_col=anchor_id_col,
        pair_filter=F.col(label_col) != F.col(anchor_label_col),
        select_extra=(label_col,),
    )


def quantize_int8(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Scalar int8 quantization of an embedding column — the memory
    side of similarity search at 100 TB (4x smaller vectors, integer
    dot products): per-vector scale = max|x|, q_i = floor(x_i * 127 /
    scale + 0.5) clamped to [-127, 127]. floor(x + 0.5) is round-half-
    up — deterministic and identical in every engine, unlike round()'s
    half-even ties (the CLAUDE floor-based-integers rule). A zero
    vector quantizes to all zeros (scale 0 guard).

    Composes with ``cosine_topk``/``ivf_topk`` unchanged: integer
    components are exact in float64, so quantized dot products are
    order-independent and engine-exact — the q140 gate ranks on them
    directly."""
    scale = F.expr(
        f"aggregate({vec_col}, 0.0D, (acc, v) -> greatest(acc, abs(cast(v as double))))"
    )
    out = vectors.withColumn("_scale", scale)
    q = F.expr(
        f"""transform({vec_col}, v -> CASE WHEN _scale > 0.0D THEN
              greatest(least(CAST(floor(cast(v as double) * 127.0D / _scale + 0.5D)
                             AS BIGINT), 127), -127)
            ELSE CAST(0 AS BIGINT) END)"""
    )
    return out.select(
        id_col, F.col("_scale").alias(scale_col), q.alias(out_col)
    )
