"""Tiling / zonal operators: rasterization, zonal counts, and the
cell-partitioned union area (scale path) vs the exact dissolve UDAF."""

import re

import pytest
from pyspark.sql import functions as F

from pda_spark.operators import dissolve, tiling
from pda_spark.sources.fixtures import scaled_world


@pytest.fixture(scope="module")
def world(spark):
    w = scaled_world(spark, n_images=200, n_land_cover=40, n_cities=50, seed=5)
    for df in w.values():
        df.cache()
    return w


def test_rasterize_dedups(spark, world):
    r = tiling.rasterize_polygons(world["land_cover_classes"], res=7)
    assert r.count() == r.dropDuplicates(["key", "tile"]).count()
    assert set(r.columns) == {"key", "tile"}


def test_union_area_by_cells_matches_exact(spark, world):
    """The cell-partitioned union area must equal the exact
    inclusion-exclusion dissolve, for every featureclass, at any res."""
    exact = {
        r["featureclass"]: r["union_area"]
        for r in dissolve.dissolve(world["land_cover_classes"]).collect()
    }
    for res in (6, 8):
        scale = {
            r["key"]: r["union_area"]
            for r in tiling.union_area_by_cells(world["land_cover_classes"], res=res).collect()
        }
        assert set(scale) == set(exact)
        for k in exact:
            assert scale[k] == pytest.approx(exact[k], rel=1e-9), f"{k} res={res}"


def test_union_area_by_cells_keyed_exchange_not_coalescable(spark, world):
    """The per-cell scanline union is compute-heavy on few bytes: the
    exchange under it must carry an explicit partition count, which AQE
    never coalesces (ENSURE_REQUIREMENTS ran it as one task)."""
    from conftest import formatted_plan

    from pda_spark.session import keyed_width

    polys = world["land_cover_classes"]
    plan = formatted_plan(tiling.union_area_by_cells(polys, res=8))
    tree = plan.split("\n\n")[0]
    below = tree[tree.index("FlatMapGroupsInPandas"):]
    node = re.search(r"Exchange \((\d+)\)", below).group(1)
    args = re.search(rf"^\({node}\) Exchange\n.*\nArguments: (.*)$", plan, re.M).group(1)
    assert f", {keyed_width(polys)}), REPARTITION_BY_NUM" in args, plan


def test_zonal_count_vs_exact_pip(spark, world):
    """At fine resolution the zonal tile count converges on the exact PIP
    count; at any resolution it is an upper bound (tiles over-cover)."""
    from pda_spark.operators import spatial_join

    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    from pda_spark.functions import geo_udfs

    tiled = pts.withColumn("tile", geo_udfs.point_cell(12)(F.col("geom")))
    polys = world["land_cover_classes"]
    zonal = {
        r["key"]: r["n_points"]
        for r in tiling.zonal_count_join(tiled, polys, res=12).collect()
    }
    exact_pairs = spatial_join.points_in_polygons_join(
        pts, polys.select(F.col("featureclass").alias("key"), F.col("geom").alias("lc_geom")),
        res=7, poly_geom="lc_geom",
    )
    # zonal counts each point once per CLASS (raster is deduped per
    # (key, tile)); the exact join yields one row per (point, polygon) —
    # dedup to (point, class) before comparing
    exact = {
        r["key"]: r["n"]
        for r in exact_pairs.select("pt_id", "key")
        .dropDuplicates(["pt_id", "key"])
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k, n_exact in exact.items():
        assert zonal.get(k, 0) >= n_exact  # tiles over-cover
        assert zonal[k] <= n_exact * 2 + 5  # but not wildly at res 12


def test_cover_cells_bbox_expr_parity(spark):
    """The Catalyst bbox-cover fan-out must be bit-identical to the numpy
    cells.cover_bbox across resolutions and domain edges."""
    import numpy as np
    from pda_spark.functions import geo_udfs
    from pda_spark.geo import cells

    rng = np.random.default_rng(5)
    rows = []
    for i in range(200):
        x0 = float(rng.uniform(-185, 180)); y0 = float(rng.uniform(-95, 90))
        rows.append((i, x0, y0, x0 + float(rng.uniform(0, 8)), y0 + float(rng.uniform(0, 8))))
    df = spark.createDataFrame(rows, "i int, minx double, miny double, maxx double, maxy double")
    for res in (3, 7, 12):
        expr = geo_udfs.cover_cells_bbox_expr(
            F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), res
        )
        got = {r["i"]: sorted(r["c"]) for r in df.select("i", expr.alias("c")).collect()}
        for i, x0, y0, x1, y1 in rows:
            assert got[i] == sorted(int(c) for c in cells.cover_bbox(x0, y0, x1, y1, res)), (i, res)


def test_rasterize_loose_equals_tight_for_boxes(spark, world):
    """For axis-aligned geometries the bbox cover IS the tight cover, so
    the JVM fast path must produce the identical tile set."""
    imgs = world["sat_images"].select("id", "geom")  # fixture footprints are boxes? use land_cover
    lc = world["land_cover_classes"]
    a = {(r["key"], r["tile"]) for r in tiling.rasterize_polygons(lc, res=7, tight=True).collect()}
    b = {(r["key"], r["tile"]) for r in tiling.rasterize_polygons(lc, res=7, tight=False).collect()}
    assert a <= b  # tight is always a subset of bbox cover


def test_cluster_by_cell_disjoint_ranges(spark, world):
    """Range clustering must yield disjoint sorted cell ranges per output
    partition (the property parquet min/max file pruning relies on)."""
    r = tiling.rasterize_polygons(world["land_cover_classes"], res=8)
    clustered = tiling.cluster_by_cell(r, "tile", num_partitions=8)
    stats = (
        clustered.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.min("tile").alias("lo"), F.max("tile").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(stats) > 1
    for prev, cur in zip(stats, stats[1:]):
        assert prev["hi"] <= cur["lo"]  # ranges don't interleave


def test_focal_stats_hand_computed(spark):
    """3x3 focal sum/mean with edge-clipped windows: donors at grid
    corner (0,0) and center; empty in-window cells count as zero value
    but full window size (raster semantics)."""
    from pyspark.sql import functions as SF

    from pda_spark.geo import cells as C
    from pda_spark.operators import tiling

    res = 3  # 8x8 grid
    mk = lambda ix, iy: int(C.cell_id(res, __import__("numpy").asarray([ix]), __import__("numpy").asarray([iy]))[0])
    cnt = spark.createDataFrame(
        [(mk(0, 0), 10), (mk(1, 1), 5), (mk(4, 4), 7)], "cell long, n long"
    )
    out = {r["cell"]: r for r in tiling.focal_stats(cnt, res=res).collect()}
    # corner cell (0,0): window is 2x2 in-bounds, receives both donors
    c00 = out[mk(0, 0)]
    assert c00["focal_sum"] == 15 and c00["win_cells"] == 4
    assert abs(c00["focal_mean"] - 15 / 4) < 1e-12
    # (2,2): 3x3 interior window, only donor (1,1) in range
    c22 = out[mk(2, 2)]
    assert c22["focal_sum"] == 5 and c22["win_cells"] == 9
    # isolated donor's own cell: sum includes itself only
    assert out[mk(4, 4)]["focal_sum"] == 7
    # recipient with no donors in window -> absent (support dilation only)
    assert mk(7, 7) not in out
    # support dilation: (5,5) receives from (4,4) though it had no count
    assert out[mk(5, 5)]["focal_sum"] == 7
