"""Tiling / zonal operators: rasterization, the Catalyst cell
expressions, and the cell-partitioned union area vs the exact dissolve
UDAF."""

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
    single-task dissolve, for every featureclass, at any res."""
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
    below = tree[tree.index("MapInPandas"):]
    node = re.search(r"Exchange \((\d+)\)", below).group(1)
    args = re.search(rf"^\({node}\) Exchange\n.*\nArguments: (.*)$", plan, re.M).group(1)
    assert f", {keyed_width(polys)}), REPARTITION_BY_NUM" in args, plan


def _union_by_group(pieces_pdf):
    """Per-(key, cell) union areas of collected pieces, one group at a time."""
    from pda_spark.geo import sweep, wkb

    return {
        (k, c): sweep.union_area([wkb.decode(bytes(b)).polygons()[0] for b in g["piece"]])
        for (k, c), g in pieces_pdf.groupby(["key", "cell"], dropna=False)
    }


def test_union_cell_runs_carries_runs_across_batches(spark, world):
    """Every split of a sorted partition into batches (empty batches
    included) gives one area per (key, cell) run, equal to the union of
    that group's pieces."""
    import pandas as pd

    pieces = dissolve.cell_pieces(world["land_cover_classes"], 7, key_col="featureclass")
    pdf = pieces.toPandas().sort_values(["key", "cell"], kind="mergesort").reset_index(drop=True)
    want = _union_by_group(pdf)
    assert len(want) > 10 and len(pdf) > len(want)
    for size in (1, 2, 3, 7, len(pdf)):
        batches = [pdf.iloc[a:a + size] for a in range(0, len(pdf), size)]
        batches.insert(1, pdf.iloc[:0])
        out = pd.concat(list(tiling._union_cell_runs(iter(batches))), ignore_index=True)
        got = {(k, c): a for k, c, a in out.itertuples(index=False)}
        assert len(out) == len(got) == len(want), size
        assert got == want, size
    assert list(tiling._union_cell_runs(iter([pdf.iloc[:0]]))) == []


def test_union_area_by_cells_streams_two_row_batches(spark, world):
    """With 2-row Arrow batches most (key, cell) runs straddle a batch
    boundary, and some partitions of the keyed exchange are empty: the
    per-cell areas still equal a per-group union, and the per-key areas
    their sums."""
    from pda_spark.session import keyed_width

    polys = world["land_cover_classes"].limit(6).localCheckpoint()
    pieces = dissolve.cell_pieces(polys, 6, key_col="featureclass").localCheckpoint()
    want = _union_by_group(pieces.toPandas())
    sizes = pieces.repartition(keyed_width(pieces), "key", "cell").rdd.glom().map(len).collect()
    assert 0 in sizes and max(sizes) > 2, sizes
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        cells_out = tiling._cell_union_areas(pieces).collect()
        keyed = tiling.union_area_by_cells(polys, res=6).collect()
    finally:
        spark.conf.set(conf, old)
    got = {(r["key"], r["cell"]): r["area"] for r in cells_out}
    assert len(cells_out) == len(got) == len(want)
    assert got == want
    sums: dict = {}
    for (k, _), a in sorted(want.items()):
        sums[k] = sums.get(k, 0.0) + a
    assert {r["key"]: r["union_area"] for r in keyed} == pytest.approx(
        {k: round(v, 12) for k, v in sums.items()}, rel=1e-12
    )


def test_cover_cells_bbox_expr_parity(spark):
    """The Catalyst bbox-cover fan-out must be bit-identical to the numpy
    cells.cover_bbox, and the Catalyst point cell to cells.cell_of,
    across resolutions and domain edges."""
    import numpy as np
    from pda_spark.functions import geo_udfs
    from pda_spark.geo import cells

    rng = np.random.default_rng(5)
    rows = []
    for i in range(200):
        x0 = float(rng.uniform(-185, 180)); y0 = float(rng.uniform(-95, 90))
        rows.append((i, x0, y0, x0 + float(rng.uniform(0, 8)), y0 + float(rng.uniform(0, 8))))
    df = spark.createDataFrame(rows, "i int, minx double, miny double, maxx double, maxy double")
    # the forms the operators pass: Columns naming a column or an element
    # of one, and SQL text reading an element or doing arithmetic on it
    # (the bounds are stored as a bbox array, shifted by -1/+1 degree)
    df = df.selectExpr("*", "array(minx - 1.0D, miny - 1.0D, maxx + 1.0D, maxy + 1.0D) AS bb")
    forms = {  # form: (builder arguments, the same bounds in Python floats)
        "columns": ((F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")),
                    lambda x0, y0, x1, y1: (x0, y0, x1, y1)),
        "elements": (tuple(F.col("bb")[j] for j in range(4)),
                     lambda x0, y0, x1, y1: (x0 - 1.0, y0 - 1.0, x1 + 1.0, y1 + 1.0)),
        "text": (("bb[0] + 1.0D", "bb[1] + 1.0D", "bb[2] - 1.0D", "bb[3] - 1.0D"),
                 lambda x0, y0, x1, y1: ((x0 - 1.0) + 1.0, (y0 - 1.0) + 1.0,
                                         (x1 + 1.0) - 1.0, (y1 + 1.0) - 1.0)),
    }
    for res in (3, 7, 12):
        for form, (args, bounds) in forms.items():
            expr = geo_udfs.cover_cells_bbox_expr(*args, res)
            got = {r["i"]: sorted(r["c"]) for r in df.select("i", expr.alias("c")).collect()}
            for i, *bb in rows:
                want = sorted(int(c) for c in cells.cover_bbox(*bounds(*bb), res))
                assert got[i] == want, (i, res, form)

    # point cells: the same random rows' corners, the exact +-180/+-90
    # edges and out-of-domain coordinates (clamped into the edge cells;
    # NaN goes to index 0 like Java's (long) NaN)
    pts = [(x0, y0) for _, x0, y0, _, _ in rows] + [(x1, y1) for *_, x1, y1 in rows]
    edges = (-200.0, -180.0, -0.0, 0.0, 180.0, 200.0, -90.0, 90.0, -95.0, 95.0, 1e9, -1e9,
             float("inf"), float("-inf"), float("nan"), 1e300, -1e300)
    pts += [(x, y) for x in edges for y in edges]
    pdf = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i int, lon double, lat double"
    )
    lon = np.array([x for x, _ in pts])
    lat = np.array([y for _, y in pts])
    pdf = pdf.selectExpr("*", "array(lon, lat) AS xy")
    for res in (3, 7, 12):
        want = cells.cell_of(lon, lat, res)
        for args in ((F.col("lon"), F.col("lat")), ("xy[0]", "xy[1] * 1.0D"),
                     (F.col("xy")[0], F.col("xy").getItem(1))):
            expr = geo_udfs.cell_of_xy_expr(*args, res)
            got = {r["i"]: r["c"] for r in pdf.select("i", expr.alias("c")).collect()}
            for i in range(len(pts)):
                assert got[i] == int(want[i]), (pts[i], res, args)


def test_cell_builders_reject_other_columns(spark):
    """A Column other than a column name or an element of one (or a
    value that is not text) is refused with a TypeError that names it."""
    from pda_spark.functions import geo_udfs

    for bad in (F.col("lon") + 1.0, F.lit(3.0), F.col("lon").alias("x"), F.col("bb")["k"], 1.5):
        with pytest.raises(TypeError, match=rf"lon={re.escape(repr(bad))}: pass SQL text"):
            geo_udfs.cell_of_xy_expr(bad, "lat", 7)
        with pytest.raises(TypeError, match=rf"maxx={re.escape(repr(bad))}: pass SQL text"):
            geo_udfs.cover_cells_bbox_expr("bb[0]", "bb[1]", bad, "bb[3]", 7)


def test_rasterize_loose_equals_tight_for_boxes(spark):
    """For axis-aligned boxes the bbox cover IS the tight cover, so the
    JVM fast path must produce the identical tile set, including boxes
    whose edges lie exactly on cell boundaries."""
    import numpy as np

    from pda_spark.geo import wkb

    rng = np.random.default_rng(7)
    for res in (5, 7, 10):
        w, h = 360.0 / (1 << res), 180.0 / (1 << res)
        boxes = []
        for _ in range(12):  # 1.5-6 cells a side: wider than the kept-whole 4-cell cover
            x0, y0 = float(rng.uniform(-179, 150)), float(rng.uniform(-89, 60))
            boxes.append((x0, y0, x0 + float(rng.uniform(1.5, 6)) * w, y0 + float(rng.uniform(1.5, 6)) * h))
        for ix, iy, cx, cy in ((3, 5, 3, 2), (0, 0, 4, 4), ((1 << res) - 4, (1 << res) - 3, 4, 3)):
            x0, y0 = -180.0 + ix * w, -90.0 + iy * h  # every edge on a cell boundary
            boxes.append((x0, y0, x0 + cx * w, y0 + cy * h))
            boxes.append((x0 + 0.3 * w, y0 + 0.4 * h, x0 + cx * w, y0 + cy * h))  # max edges only
            boxes.append((x0, y0, x0 + (cx + 0.5) * w, y0 + (cy + 0.5) * h))  # min edges only
        polys = spark.createDataFrame(
            [(f"b{i}", bytearray(wkb.box(*b))) for i, b in enumerate(boxes)],
            "featureclass string, geom binary",
        )
        tight = {tuple(r) for r in tiling.rasterize_polygons(polys, res=res, tight=True).collect()}
        loose = {tuple(r) for r in tiling.rasterize_polygons(polys, res=res, tight=False).collect()}
        assert tight == loose, (res, sorted(loose - tight)[:5], sorted(tight - loose)[:5])


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
