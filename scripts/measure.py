"""Measurement CLI: query timing, plan dumps and scaling efficiency.

  python scripts/measure.py time [QUERY ...] [--sf DIR] [--reps N]
  python scripts/measure.py explain [QUERY ...] [--sf DIR]
  python scripts/measure.py scaling LEG [--rows N] [--levels ExC,ExC] [--reps N]

``time``: each query is forced through the noop sink, after one warmup
pass at the ``sf0.001`` directory next to ``--sf`` (Python-worker import
storm and JVM codegen amortized; ``--sf`` itself when there is none),
and the minimum of ``--reps`` runs is kept. Each run logs one stderr
line that splits its wall into ``build=`` (the builder call, eager jobs
included) and ``action=`` (the noop write), with ``compiles=``, the
classes compiled from generated code over both: 0 on a warm rep unless
the query's generated code differs per call. Prints one JSON line
``{"sf_dir", "cpus", "queries"}``. With no query names it sweeps every
``registry.QUERIES`` entry in key order and writes
``BENCH/full_suite.json``; queries slower than ``SUITE_THRESHOLD_S`` are
listed in ``over_threshold`` and owe a plan audit. The session comes from
``get_spark`` (``SPARK_GRAFT_CPUS`` cores); ``--sf`` defaults to
``$SPARK_GRAFT_SF_DIR``.

``explain``: writes ``explain('formatted')`` for each query to
``BENCH/plans/<name>.txt``; by default the ``AUDITED`` list plus
``q42_knn_candidates``.

``scaling``: throughput scaling efficiency of one job (a row of ``LEGS``)
between two parallelism levels, ``lo_elapsed / (ratio * hi_elapsed)``
against the 0.8 target, written to the leg's ``BENCH/`` file. Each level
is a ``local-cluster[E,C,M]`` session (E real executor JVMs with their
own heap, Python workers and shuffle paths) in a fresh process. Levels
run alternated, because the host is time-shared, and each level keeps
its fastest sample; every sample stays in the JSON. Each run is the
minimum of ``reps`` timings after a warmup over a slice of the input.
Generated input is written once as parquet and reused while its marker
records the same leg and row count. The default levels are the
single-executor cores axis (1xC vs 1x4C): several executor JVMs under
sustained load measured the host's throttle, not the code (BENCH/BASELINE.md
§3), and Arrow legs use 1x1 vs 1x4 because each Arrow task keeps two
processes busy.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import re
import shutil
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SUITE_THRESHOLD_S = 3.0
TARGET = 0.8

# ---------------------------------------------------------------------------
# time / explain
# ---------------------------------------------------------------------------

AUDITED = [
    # the first eight were over SUITE_THRESHOLD_S at sf0.1 in
    # BENCH/full_suite.json, which owes a plan audit
    "q114_density_clusters", "q124_dbscan", "q127_triangles",
    "q147_jaccard_prefix", "q160_bloom_pruned_join", "q165_robust_outliers",
    "q169_interpolate", "q173_tree_root", "q01_pricing_summary",
    "q25_ngram_jaccard", "q30_cosine_topk", "q40_cell_assign",
    "q41_pip_join", "q42_knn", "q44_tile_zonal", "q45_rect_intersects",
    "q13_heat_weekly", "q31_lsh_ann", "q32_cosine_neardup",
    "q34_lsh_neardup", "q46_dissolve_area", "q48_river_intersects",
    "q49_river_length", "q50_river_crossings", "q52_repetition_quality",
    "q53_train_split", "q54_url_normalize", "q55_sessionize",
    "q56_curation_pipeline", "q57_asof_join", "q58_interval_join",
    "q59_stratified_sample", "q60_vocabulary", "q64_pip_wkb",
    "q65_pip_right_outer", "q66_pip_left_outer", "q67_percentiles",
    "q68_analytic_windows", "q69_distance_join", "q70_pip_multires",
    "q71_decontaminate", "q72_corpus_quality", "q73_quota_sample",
    "q74_pii_scrub", "q75_boilerplate_lines", "q76_intersects_right_outer",
    "q77_heavy_hitters", "q78_knn_geodesic", "q79_buffer_area",
    "q80_set_ops", "q81_bm25", "q82_erosion_area", "q83_zonal_stats",
    "q84_range_window", "q85_convex_hull", "q86_pivot", "q87_focal_stats",
    "q88_geodesic_length", "q89_anti_join", "q90_union_by_name",
    "q91_grouping_sets", "q92_date_arith", "q93_sequence_packing",
    "q94_zorder", "q95_contains_join", "q96_intersects_multires",
    "q97_correlated_subquery", "q98_image_decode", "q99_udtf_shingles",
    "q100_substring_containment", "q101_image_downsample", "q102_tfidf",
    "q103_winnowing", "q104_tile_pyramid", "q105_geohash",
    "q106_areal_interp", "q107_edit_distance", "q108_focal_gradient",
    "q109_morans_i", "q110_paragraph_dedup", "q111_hilbert",
    "q112_inverted_index", "q113_staypoints",
]


def _q42_knn_candidates(spark, sf_dir):
    """q42 with exact=True localCheckpoints the candidate result, so its
    explain shows only the checkpoint scan; this is the real ring-join
    DAG (the exact=False plan, identical up to the guard loop)."""
    from pda_spark.operators import spatial_join
    from pda_spark.plans.fixtures import _event_points, _knn_query_table

    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    queries = _knn_query_table(spark)
    return spatial_join.knn_join(
        pts, queries, k=5, res=6, max_ring=2, metric="degrees",
        tiebreak="event_id", lonlat_cols=("lon", "lat"), exact=False,
    )


EXPLAIN_EXTRA = {"q42_knn_candidates": _q42_knn_candidates}


def query_names(names: list[str]) -> list[str]:
    """The queries ``time`` runs: the given names, or the whole registry
    in key order."""
    from pda_spark.plans import registry

    return list(names) or list(registry.QUERIES)


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def time_queries(names: list[str], sf_dir: str, reps: int) -> None:
    from pda_spark.plans import registry
    from pda_spark.session import codegen_compiles, get_spark

    sweep = not names
    names = query_names(names)
    spark = get_spark("pda-measure")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    warm_dir = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    def run(name: str, sf: str, tag: str) -> float:
        # build = the builder call (plan construction and any eager jobs
        # it runs), action = the noop write of its result, compiles = the
        # classes compiled from generated code over both (codegen cache
        # misses)
        spark.sparkContext.setJobDescription(f"{name}:{tag}")
        c0 = codegen_compiles(spark)
        t0 = time.time()
        df = registry.QUERIES[name][0](spark, sf)
        build = time.time() - t0
        action = _timed(lambda: _force(df))
        dt = round(build + action, 3)
        compiles = codegen_compiles(spark) - c0
        print(f"{tag} {name} {dt:.2f}s build={build:.2f}s action={action:.2f}s "
              f"compiles={compiles}", file=sys.stderr, flush=True)
        return dt

    for name in names:
        run(name, warm_dir, "warm")
    times: dict[str, float] = {}
    for rep in range(reps):
        for name in names:
            dt = run(name, sf_dir, f"rep{rep}")
            times[name] = min(times.get(name, dt), dt)
    spark.stop()

    if not sweep:
        print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": times}))
        return
    result = {
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "reps": reps,
        "n_queries": len(names),
        "total_sec": round(sum(times.values()), 3),
        "queries": times,
        "over_threshold": sorted(
            [n for n, t in times.items() if t > SUITE_THRESHOLD_S], key=lambda n: -times[n]
        ),
    }
    _write_bench("full_suite.json", result)


def explain(names: list[str], sf_dir: str) -> None:
    from pda_spark.plans import registry
    from pda_spark.session import get_spark

    out_dir = os.path.join(REPO, "BENCH", "plans")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("pda-measure-explain", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names or AUDITED + list(EXPLAIN_EXTRA):
        fn = EXPLAIN_EXTRA.get(name) or registry.QUERIES[name][0]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan)} bytes")
    spark.stop()


def _write_bench(name: str, result: dict) -> None:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", name), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


# ---------------------------------------------------------------------------
# scaling: input generators and jobs
#
# A generator ``gen(spark, rows, out_dir)`` writes the leg's parquet input.
# A job ``job(spark, src, rows, width)`` returns ``(n, run, warm)``: the row
# count it measures, the measured run and the warmup run. ``width`` is the
# level's total core count.
# ---------------------------------------------------------------------------


def _gen_points(spark, rows, out):
    from pda_spark.plans.fixtures import _mk_point

    pts = (
        spark.range(0, rows, numPartitions=128)
        .withColumn("lon", F.pmod(F.col("id") * 7919 + 13, F.lit(4000)) / 100.0 - 20.0)
        .withColumn("lat", F.pmod(F.col("id") * 104729 + 7, F.lit(2500)) / 100.0 + 36.0)
        .withColumn("geom", _mk_point(F.col("lon"), F.col("lat")))
        .select(F.col("id").alias("event_id"), "geom", "lon", "lat")
    )
    pts.write.mode("overwrite").parquet(out)


def _job_pip(spark, src, rows, width, wkb=False):
    from pda_spark.operators import spatial_join
    from pda_spark.plans.fixtures import _box_table

    # no repartition: the generator wrote 128 files, so the scan is
    # parallel at both levels, and the polygon side broadcasts; an input
    # repartition adds a cross-executor shuffle the single-JVM level
    # never pays (it inverted 1x2-vs-4x2 scaling at 32M points)
    pts = spark.read.parquet(src)
    boxes = _box_table(spark)

    def run(df):
        if wkb:
            # points enter as WKB only: the single-evaluation decode
            # struct UDF is the measured stage
            out = spatial_join.points_in_polygons_join(
                df.select("event_id", "geom"), boxes, res=7, poly_geom="box_geom"
            )
        else:
            out = spatial_join.points_in_polygons_join(
                df, boxes, res=7, poly_geom="box_geom", lonlat_cols=("lon", "lat")
            )
        _force(out.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points")))

    warm = pts.filter(F.pmod(F.col("event_id"), F.lit(20)) == 0)
    return pts.count(), lambda: run(pts), lambda: run(warm)


def _job_pip_wkb(spark, src, rows, width):
    return _job_pip(spark, src, rows, width, wkb=True)


IRREGULAR_LAND_COVER = 2400


def _gen_irregular(spark, rows, out):
    import pyspark.sql.types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def mk_irr(cx: pd.Series, cy: pd.Series, r: pd.Series, seed: pd.Series) -> pd.Series:
        from pda_spark.geo import wkb as W

        polys = []
        for x, y, rr, s in zip(cx, cy, r, seed):
            rng = np.random.default_rng(int(s))
            nv = 5 + int(s) % 5
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rad = rr * rng.uniform(0.5, 1.0, nv)
            ring = np.column_stack([x + rad * np.cos(ang), y + rad * np.sin(ang)])
            polys.append(W.polygon([np.vstack([ring, ring[:1]])]))
        return pd.Series(polys)

    foot = (
        spark.range(0, rows, numPartitions=128)
        .select(
            F.col("id").alias("img_id"),
            (F.pmod(F.col("id") * 7919, F.lit(40000)) / 1000.0 - 20.0).alias("cx"),
            (F.pmod(F.col("id") * 104729, F.lit(22000)) / 1000.0 + 37.0).alias("cy"),
            (F.pmod(F.col("id"), F.lit(80)) / 1000.0 + 0.02).alias("r"),
            F.pmod(F.col("id"), F.lit(9973)).alias("seed"),
        )
        .withColumn("fgeom", mk_irr("cx", "cy", "r", "seed"))
        .select("img_id", "fgeom")
    )
    foot.write.mode("overwrite").parquet(os.path.join(out, "foot"))
    lc = (
        spark.range(IRREGULAR_LAND_COVER)
        .select(
            F.col("id").alias("lc_id"),
            (F.pmod(F.col("id") * 31, F.lit(40000)) / 1000.0 - 20.0).alias("cx"),
            (F.pmod(F.col("id") * 57, F.lit(22000)) / 1000.0 + 37.0).alias("cy"),
            (F.pmod(F.col("id"), F.lit(200)) / 500.0 + 0.1).alias("r"),
            F.pmod(F.col("id"), F.lit(997)).alias("seed"),
        )
        .withColumn("lgeom", mk_irr("cx", "cy", "r", "seed"))
        .select("lc_id", "lgeom")
    )
    lc.write.mode("overwrite").parquet(os.path.join(out, "lc"))


def _job_irregular(spark, src, rows, width):
    from pda_spark.operators import spatial_join

    foot = spark.read.parquet(os.path.join(src, "foot"))
    lc = spark.read.parquet(os.path.join(src, "lc"))

    def run(df):
        pairs = spatial_join.intersects_join(df, lc, res=7, left_geom="fgeom", right_geom="lgeom")
        _force(pairs.groupBy("lc_id").agg(F.count(F.lit(1)).alias("n")))

    warm = foot.filter(F.pmod(F.col("img_id"), F.lit(20)) == 0)
    return foot.count(), lambda: run(foot), lambda: run(warm)


def _gen_docs(spark, rows, out):
    # ~60 tokens per doc from a small vocabulary, built JVM-side
    vocab = (
        "the a of to and in page data news spark join table row scan fast "
        "slow merge batch value line query filter hash vector stream big "
        "small window order customer part group key column agg"
    ).split()
    words = F.array(*[F.lit(w) for w in vocab])
    # the pmod bound must be the vocabulary size: element_at is 1-based
    # and ANSI mode throws on overflow
    n_vocab = len(vocab)
    docs = (
        spark.range(0, rows, numPartitions=128)
        .withColumn(
            "text",
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.element_at(
                    words, (F.pmod(F.xxhash64(F.col("id") * 131 + i), F.lit(n_vocab)) + 1).cast("int")
                ),
            )),
        )
        .select(F.col("id").alias("doc_id"), "text")
    )
    docs.write.mode("overwrite").parquet(out)


def _job_text(spark, src, rows, width):
    from pda_spark.functions import dedup as D

    docs = spark.read.parquet(src)

    def run(df):
        # shingle document frequency: the map-side-combinable aggregate
        # every near-dup pipeline starts with
        sh = D.doc_shingle_hashes(df, "doc_id")
        _force(sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")))

    warm = docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
    return docs.count(), lambda: run(docs), lambda: run(warm)


def _job_cc(spark, src, rows, width):
    from pda_spark.functions.graph import connected_components

    def run(n):
        # chains of 64 (i -> i+1, plus a mid-chain shortcut i -> i+32)
        # survive the contraction pre-pass, so the star rounds do work
        base = spark.range(n, numPartitions=4 * width)
        chain = base.filter(F.pmod("id", F.lit(64)) != 63).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        shortcut = base.filter(F.pmod("id", F.lit(64)) < 32).select(
            F.col("id").alias("src"), (F.col("id") + 32).alias("dst")
        )
        _force(connected_components(chain.unionAll(shortcut)))

    return rows, lambda: run(rows), lambda: run(rows // 50)


def _job_hilbert(spark, src, rows, width):
    from pda_spark.functions import geo_udfs

    res = 12
    n_grid = 1 << res

    def run(n):
        base = spark.range(n, numPartitions=4 * width).select(
            F.pmod(F.col("id") * 2654435761, F.lit(n_grid)).alias("gx"),
            F.pmod(F.col("id") * 40503 + 7919, F.lit(n_grid)).alias("gy"),
        )
        keyed = geo_udfs.hilbert_key(base, "gx", "gy", res)
        _force(keyed.agg(F.sum("hilbert_d")))

    return rows, lambda: run(rows), lambda: run(rows // 50)


def _job_snap(spark, src, rows, width):
    from pda_spark.operators import spatial_join

    # the q136 river-segment dimension (nation keys 0..24, 4 arms each)
    segs_rows = []
    for k in range(25):
        ax = ((k * 19) % 3600) / 100.0 - 19.0
        ay = ((k * 23) % 2000) / 100.0 + 38.0
        w = (k % 5) / 10.0 + 0.4
        h = ((k * 3) % 7) / 10.0 - 0.35
        for seg, (x0, y0, x1, y1) in enumerate(
            [(ax, ay, ax + w, ay), (ax + w, ay, ax + w, ay + h),
             (ax + w, ay + h, ax + 2 * w, ay + h), (ax + 2 * w, ay + h, ax + 3 * w, ay + 2 * h)]
        ):
            segs_rows.append((k, seg, x0, y0, x1, y1))
    segs = spark.createDataFrame(
        segs_rows, "river_id int, seg int, x0 double, y0 double, x1 double, y1 double"
    )

    def run(n):
        pts = spark.range(n, numPartitions=4 * width).select(
            F.col("id").alias("point_id"),
            (F.pmod(F.col("id") * 2654435761, F.lit(4000)) / 100.0 - 20.0).alias("lon"),
            (F.pmod(F.col("id") * 40503 + 7919, F.lit(2500)) / 100.0 + 36.0).alias("lat"),
        )
        _force(spatial_join.snap_to_segments(
            pts, segs, radius=0.5, res=6,
            seg_id_cols=("river_id", "seg"), seg_cols=("x0", "y0", "x1", "y1"),
        ))

    return rows, lambda: run(rows), lambda: run(rows // 50)


def _gen_polys(spark, rows, out):
    from pda_spark.geo import wkb as W

    def poly_wkb(i):
        # rectangles, 1/4 with a hole, so the erosion runs the generic
        # capsule-union scanline path on every row
        w, h = 2.0 + (i % 7) * 0.6, 1.5 + (i % 5) * 0.5
        off = (i % 13) * 0.1
        outer = np.array([[0, 0], [w, 0], [w, h], [0, h], [0, 0]], dtype=np.float64) + off
        rings = [outer]
        if i % 4 == 0:
            rings.append(np.array(
                [[w * 0.4, h * 0.4], [w * 0.6, h * 0.4], [w * 0.6, h * 0.6],
                 [w * 0.4, h * 0.6], [w * 0.4, h * 0.4]]
            ) + off)
        return bytearray(W.polygon(rings))

    pdf = pd.DataFrame({"poly_id": range(rows), "geom": [poly_wkb(i) for i in range(rows)]})
    # 16 files so the scan parallelizes at every measured level
    spark.createDataFrame(pdf).repartition(16).write.mode("overwrite").parquet(out)


def _job_buffer(spark, src, rows, width):
    from pda_spark.functions import geo_udfs

    polys = spark.read.parquet(src)
    area = geo_udfs.buffer_area_planar(-0.35)

    def run(df):
        _force(df.select("poly_id", area(F.col("geom")).alias("ero_area")).agg(F.sum("ero_area")))

    warm = polys.filter(F.pmod(F.col("poly_id"), F.lit(20)) == 0)
    return polys.count(), lambda: run(polys), lambda: run(warm)


def _gen_media(spark, rows, out):
    import pyspark.sql.types as T

    def make_media(batches):
        from pda_spark.functions import multimodal

        for pdf in batches:
            media = []
            for did in pdf["id"]:
                did = int(did)
                # 60..123 x 48..87 px: decode work dominates per row, and
                # BMP stride padding varies with width
                w, h = 60 + did % 64, 48 + did % 40
                i = np.arange(w * h * 3, dtype=np.int64)
                px = ((did * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w, 3)
                enc = multimodal.encode_bmp if did % 2 else multimodal.encode_ppm
                media.append({"media_id": f"{did:08d}", "payload": enc(px)})
            yield pd.DataFrame(media, columns=["media_id", "payload"])

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ])
    (spark.range(0, rows, numPartitions=64).mapInPandas(make_media, schema)
     .write.mode("overwrite").parquet(out))


def _job_media(spark, src, rows, width):
    from pda_spark.functions import multimodal

    media = spark.read.parquet(src).repartition(4 * width)

    def run(df):
        _force(multimodal.downsample_block_mean(df, out_w=4, out_h=4))

    return media.count(), lambda: run(media), lambda: run(media.limit(500))


# ---------------------------------------------------------------------------
# scaling: the leg table and its one runner
# ---------------------------------------------------------------------------

_ARROW = {"spark.sql.execution.arrow.pyspark.enabled": "true"}
_ARROW_BATCH = {**_ARROW, "spark.sql.execution.arrow.maxRecordsPerBatch": "65536"}


@dataclass(frozen=True)
class Leg:
    job: Callable
    gen: Callable | None
    rows: int
    levels: str
    reps: int
    alternations: int
    mem_mb: int
    out: str
    n_key: str
    # (level key, divisor, digits): throughput = round(n / elapsed / divisor, digits)
    throughput: tuple[str, float, int]
    desc: str
    conf: dict = field(default_factory=dict)


# one row per leg: job, generator, default rows, default levels, reps,
# alternations, executor memory (MB), BENCH file, row-count key,
# throughput (key, divisor, digits), description, extra session configs
LEGS: dict[str, Leg] = {
    "pip": Leg(
        _job_pip, _gen_points, 128_000_000, "1x2,1x8", 3, 3, 12288,
        "scaling.json", "n_points", ("throughput_mps", 1e6, 4),
        "PIP spatial join (cell index + JVM bbox prefilter + Arrow ray-cast refine) over materialized parquet points",
        _ARROW_BATCH,
    ),
    "pip_wkb": Leg(
        _job_pip_wkb, _gen_points, 64_000_000, "1x1,1x4", 3, 3, 12288,
        "scaling_wkb.json", "n_points", ("throughput_mps", 1e6, 4),
        "PIP spatial join, WKB-input decode leg (single-eval struct UDF + bbox prefilter + Arrow refine) over materialized parquet points",
        _ARROW_BATCH,
    ),
    "irregular": Leg(
        _job_irregular, _gen_irregular, 2_000_000, "1x2,1x8", 2, 2, 12288,
        "scaling_irregular.json", "n_footprints", ("throughput_kfps", 1e3, 2),
        "irregular-polygon intersects join (bbox cover + reference-point dedup + Arrow polygon-pair refine) of materialized footprints against 2,400 land-cover polygons",
        _ARROW_BATCH,
    ),
    "text": Leg(
        _job_text, _gen_docs, 100_000, "1x2,1x8", 3, 3, 12288,
        "scaling_text.json", "n_docs", ("throughput_kdocs", 1e3, 2),
        "web-corpus shingle pipeline (normalize + k-gram + md5 fold, JVM codegen) -> shingle document-frequency aggregate over materialized parquet docs",
        {"spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"},
    ),
    "cc": Leg(
        _job_cc, None, 6_000_000, "1x1,1x4", 2, 3, 8192,
        "scaling_cc.json", "n_nodes", ("throughput_mrows_s", 1e6, 2),
        "connected components (q51/q124 CC shape): min-neighbor contraction pre-pass + iterative large/small-star rounds over 64-node chains (~1.5N edges, ~6 rounds)",
    ),
    "hilbert": Leg(
        _job_hilbert, None, 400_000_000, "1x1,1x4", 2, 3, 8192,
        "scaling_hilbert.json", "n_rows", ("throughput_mrows_s", 1e6, 2),
        "Hilbert layout key res 12 (q111 shape): whole-stage-codegen bit arithmetic over spark.range, zero Python, zero data shuffle",
    ),
    "snap": Leg(
        _job_snap, None, 96_000_000, "1x1,1x4", 2, 3, 8192,
        "scaling_snap.json", "n_rows", ("throughput_mrows_s", 1e6, 2),
        "nearest-segment snap join (q136 shape): broadcast 100-segment dim, cell-blocked candidates, clamped-projection distance, struct-min argmin; whole-stage codegen, one shuffle",
    ),
    "buffer": Leg(
        _job_buffer, _gen_polys, 2400, "1x1,1x4", 2, 3, 8192,
        "scaling_buffer.json", "n_polys", ("throughput_gps", 1.0, 2),
        "negative-buffer (erosion) area via the capsule-union scanline kernel, one Arrow UDF stage over materialized WKB polygons (1/4 with holes)",
        _ARROW,
    ),
    "media": Leg(
        _job_media, _gen_media, 24_000, "1x1,1x4", 3, 3, 12288,
        "scaling_media.json", "n_images", ("throughput_kimg", 1e3, 2),
        "image decode (PPM/BMP dependency-free codec) + 4x4 block-mean pool, one fused mapInPandas stage over materialized encoded payloads (the q98/q101 family)",
        _ARROW,
    ),
}


def parse_levels(levels: str) -> tuple[tuple[int, int], tuple[int, int]]:
    """``"1x2,1x8"`` -> ``((1, 2), (1, 8))``: (executors, cores each) for
    the low and the high level."""
    lo, hi = [tuple(int(v) for v in part.split("x")) for part in levels.split(",")]
    return lo, hi


def mode(levels: str) -> str:
    (lo_e, lo_c), (hi_e, hi_c) = parse_levels(levels)
    return (
        f"local-cluster executor JVMs: {lo_e}x{lo_c} vs {hi_e}x{hi_c} "
        f"(total cores {lo_e * lo_c} -> {hi_e * hi_c})"
    )


def efficiency(lo_sec: float, hi_sec: float, ratio: float) -> float:
    """Throughput scaling efficiency: the speedup from the low to the
    high level divided by the parallelism ratio."""
    return round(lo_sec / (ratio * hi_sec), 4)


def scaling_result(name: str, levels: str, rows: int, samples: dict) -> dict:
    """The leg's JSON record from its alternated ``{"lo", "hi"}`` samples."""
    (lo_e, lo_c), (hi_e, hi_c) = parse_levels(levels)
    lo = min(samples["lo"], key=lambda r: r["elapsed_sec"])
    hi = min(samples["hi"], key=lambda r: r["elapsed_sec"])
    ratio = (hi_e * hi_c) / (lo_e * lo_c)
    eff = efficiency(lo["elapsed_sec"], hi["elapsed_sec"], ratio)
    leg = LEGS[name]
    return {
        "job": leg.desc,
        "mode": mode(levels),
        leg.n_key: rows,
        "levels": [lo, hi],
        "all_samples": samples,
        "speedup_lo_to_hi": round(lo["elapsed_sec"] / hi["elapsed_sec"], 3),
        "parallelism_ratio": ratio,
        "scaling_efficiency": eff,
        "target": TARGET,
        "pass": eff >= TARGET,
    }


def _input_dir(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"pda_scaling_{name}")


def _in_child(fn, *args):
    """Run ``fn(*args)`` in a fresh interpreter: one Spark session per
    process, so every level starts its own JVMs."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as ex:
        return ex.submit(fn, *args).result()


def _generate(name: str, rows: int) -> None:
    from pda_spark.session import get_spark

    spark = get_spark(f"pda-scaling-{name}-gen")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        LEGS[name].gen(spark, rows, _input_dir(name))
    finally:
        spark.stop()


def _ensure_input(name: str, rows: int) -> None:
    """Generate the leg's input unless its marker records the same leg
    and row count (the marker is written only after a complete write)."""
    src = _input_dir(name)
    marker = os.path.join(src, "_measure.json")
    want = {"leg": name, "rows": rows}
    try:
        with open(marker) as f:
            if json.load(f) == want:
                return
    except (OSError, ValueError):
        pass
    shutil.rmtree(src, ignore_errors=True)
    _in_child(_generate, name, rows)
    with open(marker, "w") as f:
        json.dump(want, f)


def _level(name: str, n_exec: int, cpe: int, rows: int, reps: int) -> dict:
    from pyspark.sql import SparkSession

    from pda_spark.session import DAEMON_MODULE

    leg = LEGS[name]
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + os.pathsep + pp if pp else REPO
    conf = {
        "spark.executor.memory": f"{leg.mem_mb - 2048}m",
        "spark.sql.shuffle.partitions": str(2 * n_exec * cpe),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.ui.enabled": "false",
        **leg.conf,
    }
    b = SparkSession.builder.master(f"local-cluster[{n_exec},{cpe},{leg.mem_mb}]")
    b = b.appName(f"pda-scaling-{name}-{n_exec}x{cpe}")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        src = _input_dir(name) if leg.gen else None
        n, run, warm = leg.job(spark, src, rows, n_exec * cpe)
        warm()
        elapsed = min(_timed(run) for _ in range(reps))
    finally:
        spark.stop()
    key, div, digits = leg.throughput
    return {"executors": n_exec, "cores_per_executor": cpe, leg.n_key: n,
            "elapsed_sec": round(elapsed, 3), key: round(n / elapsed / div, digits)}


def scaling(name: str, rows: int | None, levels: str | None, reps: int | None) -> None:
    leg = LEGS[name]
    rows = rows or leg.rows
    levels = levels or leg.levels
    reps = reps or leg.reps
    (lo_e, lo_c), (hi_e, hi_c) = parse_levels(levels)
    if leg.gen:
        _ensure_input(name, rows)
    samples: dict[str, list] = {"lo": [], "hi": []}
    for _ in range(leg.alternations):
        samples["lo"].append(_in_child(_level, name, lo_e, lo_c, rows, reps))
        samples["hi"].append(_in_child(_level, name, hi_e, hi_c, rows, reps))
    _write_bench(leg.out, scaling_result(name, levels, rows, samples))


# ---------------------------------------------------------------------------


def _positive(v: str) -> int:
    if not v.isdigit() or int(v) < 1:
        raise argparse.ArgumentTypeError(f"{v!r}: expected a positive integer")
    return int(v)


def _levels(v: str) -> str:
    try:
        (lo_e, lo_c), (hi_e, hi_c) = parse_levels(v)
    except ValueError:
        raise argparse.ArgumentTypeError(f"{v!r}: expected ExC,ExC such as 1x2,1x8") from None
    if min(lo_e, lo_c, hi_e, hi_c) < 1:
        raise argparse.ArgumentTypeError(f"{v!r}: executor and core counts must be positive")
    return v


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sf_default = os.environ.get("SPARK_GRAFT_SF_DIR")
    t = sub.add_parser("time", help="time registry queries (all of them with no names)")
    t.add_argument("queries", nargs="*")
    t.add_argument("--sf", default=sf_default, help="scale-factor data directory")
    t.add_argument("--reps", type=_positive, default=2)
    e = sub.add_parser("explain", help="write explain('formatted') plans under BENCH/plans/")
    e.add_argument("queries", nargs="*")
    e.add_argument("--sf", default=sf_default, help="scale-factor data directory")
    s = sub.add_parser("scaling", help="scaling efficiency of one leg between two levels")
    s.add_argument("leg", choices=list(LEGS))
    s.add_argument("--rows", type=_positive, help="input size (default: the leg's)")
    s.add_argument("--levels", type=_levels, help="low,high as ExC,ExC (default: the leg's)")
    s.add_argument("--reps", type=_positive, help="timed runs per level (default: the leg's)")
    args = ap.parse_args(argv)

    if args.cmd == "scaling":
        scaling(args.leg, args.rows, args.levels, args.reps)
        return
    if not args.sf:
        ap.error("pass --sf or set SPARK_GRAFT_SF_DIR")
    if args.cmd == "time":
        time_queries(args.queries, args.sf, args.reps)
    else:
        explain(args.queries, args.sf)


if __name__ == "__main__":
    main()
