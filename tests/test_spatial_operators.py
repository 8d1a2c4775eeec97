"""Spatial operator correctness against brute-force oracles on seeded
random worlds (the driver's DuckDB gate covers the SQL-expressible
variants; these tests cover the WKB/meters paths and invariants)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pda_spark.geo import kernels, wkb
from pda_spark.operators import spatial_join
from pda_spark.sources.fixtures import scaled_world


@pytest.fixture(scope="module")
def world(spark):
    w = scaled_world(spark, n_images=400, n_land_cover=60, n_cities=30, seed=11)
    for df in w.values():
        df.cache()
    return w


def _brute_pairs(imgs, lcs):
    out = set()
    for iid, ig in imgs:
        gi = wkb.decode(ig)
        for lid, lg in lcs:
            if kernels.polys_intersect(gi, wkb.decode(lg)):
                out.add((iid, lid))
    return out


def test_intersects_join_matches_bruteforce(spark, world):
    imgs = [(r["id"], bytes(r["geom"])) for r in world["sat_images"].collect()]
    lcs = [(r["id"], bytes(r["geom"])) for r in world["land_cover_classes"].collect()]
    expected = _brute_pairs(imgs, lcs)
    for res in (4, 6, 8):  # result must be resolution-invariant
        pairs = spatial_join.intersects_join(
            world["sat_images"].select(F.col("id").alias("img_id"), "geom"),
            world["land_cover_classes"].select(F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")),
            res=res,
            right_geom="lc_geom",
        )
        got = {(r["img_id"], r["lc_id"]) for r in pairs.collect()}
        assert got == expected, f"res={res}"
        # reference-point dedup: no duplicate pairs
        assert pairs.count() == len(got)


def test_intersects_join_salted_identical(spark, world):
    base = spatial_join.intersects_join(
        world["sat_images"].select(F.col("id").alias("img_id"), "geom"),
        world["land_cover_classes"].select(F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")),
        res=6,
        right_geom="lc_geom",
    )
    salted = spatial_join.intersects_join(
        world["sat_images"].select(F.col("id").alias("img_id"), "geom"),
        world["land_cover_classes"].select(F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")),
        res=6,
        right_geom="lc_geom",
        salt=8,
    )
    b = {(r["img_id"], r["lc_id"]) for r in base.collect()}
    s = {(r["img_id"], r["lc_id"]) for r in salted.collect()}
    assert b == s
    assert salted.count() == len(s)


def test_intersects_join_river_lines(spark):
    """Production land-cover shape (reference geojson_xyz.py:59-70):
    River/Lake classes are LineString centerlines, not polygons. The join
    plan (bbox cover -> reference-point dedup -> exact refine) must accept
    lineal operands and match brute force; the per-class histogram must
    report river hits."""
    w = scaled_world(spark, n_images=300, n_land_cover=48, n_cities=5, seed=23, river_lines=True)
    imgs = [(r["id"], bytes(r["geom"])) for r in w["sat_images"].collect()]
    lcs = [(r["id"], bytes(r["geom"])) for r in w["land_cover_classes"].collect()]
    # the fixture world must actually contain LineStrings
    gtypes = {wkb.decode(g).gtype for _, g in lcs}
    assert wkb.LINESTRING in gtypes and wkb.POLYGON in gtypes
    expected = _brute_pairs(imgs, lcs)
    pairs = spatial_join.intersects_join(
        w["sat_images"].select(F.col("id").alias("img_id"), "geom"),
        w["land_cover_classes"].select(
            F.col("id").alias("lc_id"), "featureclass", F.col("geom").alias("lc_geom")
        ),
        res=6,
        right_geom="lc_geom",
    )
    rows = pairs.collect()
    got = {(r["img_id"], r["lc_id"]) for r in rows}
    assert got == expected
    assert len(rows) == len(got)  # reference-point dedup holds for lines
    hist = {}
    for r in rows:
        hist[r["featureclass"]] = hist.get(r["featureclass"], 0) + 1
    assert hist.get("River", 0) > 0 and hist.get("Lake", 0) > 0


def test_pip_join_matches_bruteforce(spark, world):
    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    polys = world["land_cover_classes"].select(F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom"))
    got_df = spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom")
    got = {(r["pt_id"], r["lc_id"]) for r in got_df.collect()}
    cities = [(r["id"], bytes(r["geom"])) for r in world["cities"].collect()]
    lcs = [(r["id"], bytes(r["geom"])) for r in world["land_cover_classes"].collect()]
    expected = set()
    for cid, cg in cities:
        pt = wkb.decode(cg).parts[0]
        for lid, lg in lcs:
            if kernels.points_in_polygons(pt, wkb.decode(lg).polygons())[0]:
                expected.add((cid, lid))
    assert got == expected


def test_knn_meters_matches_bruteforce(spark, world):
    from pda_spark.geo import proj

    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    qrows = [(0, wkb.point(10.0, 50.0)), (1, wkb.point(13.4, 52.5))]
    queries = spark.createDataFrame(
        [(q, bytearray(g)) for q, g in qrows], "query_id int, qgeom binary"
    )
    got = spatial_join.knn_join(
        pts, queries, k=4, res=5, query_id="query_id", max_ring=3, tiebreak="pt_id"
    )
    rows = got.collect()
    cities = [(r["id"], bytes(r["geom"])) for r in world["cities"].collect()]
    for qid, qg in qrows:
        qlon, qlat = wkb.decode(qg).parts[0][0]
        qx, qy = proj.fwd(np.array([qlon]), np.array([qlat]))
        dists = []
        for cid, cg in cities:
            lon, lat = wkb.decode(cg).parts[0][0]
            x, y = proj.fwd(np.array([lon]), np.array([lat]))
            dists.append((float(np.hypot(x[0] - qx[0], y[0] - qy[0])), cid))
        expected = [cid for _, cid in sorted(dists)[:4]]
        got_ids = [r["pt_id"] for r in sorted(rows, key=lambda r: r["knn_rank"]) if r["query_id"] == qid]
        assert got_ids == expected, f"query {qid}"


def test_knn_exactness_guard(spark):
    """With a deliberately undersized ring, exact=True must widen and
    recover the true kNN; exact=False returns the incomplete answer."""
    from pda_spark.geo import proj

    # sparse points: only 3 within reach, spread far from the query
    pts_rows = [
        (1, wkb.point(10.0, 50.0)),
        (2, wkb.point(14.0, 54.0)),
        (3, wkb.point(4.0, 46.0)),
        (4, wkb.point(24.0, 60.0)),
        (5, wkb.point(-8.0, 41.0)),
    ]
    pts = spark.createDataFrame([(i, bytearray(g)) for i, g in pts_rows], "pt_id int, geom binary")
    queries = spark.createDataFrame([(0, bytearray(wkb.point(10.1, 50.1)))], "query_id int, qgeom binary")

    # res 10 + ring 1: ~0.35 deg reach — finds at most point 1
    loose = spatial_join.knn_join(
        pts, queries, k=3, res=10, max_ring=1, query_id="query_id",
        tiebreak="pt_id", exact=False,
    )
    assert loose.count() < 3

    fixed = spatial_join.knn_join(
        pts, queries, k=3, res=10, max_ring=1, query_id="query_id",
        tiebreak="pt_id", exact=True,
    )
    rows = sorted(fixed.collect(), key=lambda r: r["knn_rank"])
    assert len(rows) == 3
    # brute-force oracle in metres
    qx, qy = proj.fwd(np.array([10.1]), np.array([50.1]))
    dists = []
    for pid, g in pts_rows:
        lon, lat = wkb.decode(g).parts[0][0]
        x, y = proj.fwd(np.array([lon]), np.array([lat]))
        dists.append((float(np.hypot(x[0] - qx[0], y[0] - qy[0])), pid))
    expected = [pid for _, pid in sorted(dists)[:3]]
    assert [r["pt_id"] for r in rows] == expected


def test_pip_join_empty_points(spark, world):
    pts = world["cities"].filter(F.lit(False)).select(F.col("id").alias("pt_id"), "geom")
    polys = world["land_cover_classes"].select(F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom"))
    assert spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom").count() == 0


def test_knn_guard_meters_sound():
    """Property: for queries across the EPSG:3035 domain, the projected
    guard must lower-bound the true planar distance to EVERY point just
    outside the Chebyshev ring (the binding shell). The naive degree-based
    constant (110574/111320*cos) is NOT sound here — LAEA compresses
    radially by cos(c/2); this asserts the fixed guard is."""
    from pda_spark.geo import cells as C
    from pda_spark.geo import proj

    rng = np.random.default_rng(7)
    res, ring = 6, 2
    lat_step = 180.0 / (1 << res)
    lon_step = 360.0 / (1 << res)
    # spread queries to the far corners of the projection's area of use,
    # where radial compression is worst
    qlon = rng.uniform(-25.0, 45.0, 40)
    qlat = rng.uniform(30.0, 70.0, 40)
    guard = spatial_join.knn_guard_meters(qlon, qlat, ring, res)
    qx, qy = proj.fwd(qlon, qlat)
    for i in range(len(qlon)):
        cid = C.cell_of(np.array([qlon[i]]), np.array([qlat[i]]), res)
        x0, y0, x1, y1 = (float(v[0]) for v in C.cell_boxes(cid))
        # ring rectangle: the union of cells within chebyshev distance `ring`
        rx0, ry0 = x0 - ring * lon_step, y0 - ring * lat_step
        rx1, ry1 = x1 + ring * lon_step, y1 + ring * lat_step
        # dense shell of points epsilon outside the rectangle
        eps = 1e-9
        t = np.linspace(0.0, 1.0, 200)
        shell_lon = np.concatenate([
            rx0 + t * (rx1 - rx0), rx0 + t * (rx1 - rx0),
            np.full_like(t, rx0 - eps), np.full_like(t, rx1 + eps),
        ])
        shell_lat = np.concatenate([
            np.full_like(t, ry0 - eps), np.full_like(t, ry1 + eps),
            ry0 + t * (ry1 - ry0), ry0 + t * (ry1 - ry0),
        ])
        ok = (shell_lat >= -90) & (shell_lat <= 90)
        sx, sy = proj.fwd(shell_lon[ok], shell_lat[ok])
        dmin = float(np.min(np.hypot(sx - qx[i], sy - qy[i])))
        assert guard[i] <= dmin + 1e-6, (
            f"guard unsound at ({qlon[i]:.2f},{qlat[i]:.2f}): {guard[i]:.1f} > {dmin:.1f}"
        )
        # and not uselessly loose: within ~35% of the true shell distance
        assert guard[i] >= 0.3 * dmin


def test_knn_lonlat_fast_path_parity(spark, world):
    """knn_join with lonlat_cols (Catalyst cell assignment, no WKB decode
    on the point leg) must return exactly the WKB path's answer."""
    cities = [(r["id"], bytes(r["geom"])) for r in world["cities"].collect()]
    rows = []
    for cid, g in cities:
        lon, lat = wkb.decode(g).parts[0][0]
        rows.append((cid, bytearray(g), float(lon), float(lat)))
    pts = spark.createDataFrame(rows, "pt_id int, geom binary, lon double, lat double")
    queries = spark.createDataFrame(
        [(0, bytearray(wkb.point(10.0, 50.0))), (1, bytearray(wkb.point(13.4, 52.5)))],
        "query_id int, qgeom binary",
    )
    slow = spatial_join.knn_join(
        pts.select("pt_id", "geom"), queries, k=4, res=5, query_id="query_id",
        max_ring=3, tiebreak="pt_id",
    )
    fast = spatial_join.knn_join(
        pts.select("pt_id", "lon", "lat"), queries, k=4, res=5, query_id="query_id",
        max_ring=3, tiebreak="pt_id", lonlat_cols=("lon", "lat"),
    )
    s = {(r["query_id"], r["pt_id"], r["knn_rank"]) for r in slow.collect()}
    f = {(r["query_id"], r["pt_id"], r["knn_rank"]) for r in fast.collect()}
    assert s == f


def test_pip_join_rejects_unsupported_how(spark, world):
    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    polys = world["land_cover_classes"].select(F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom"))
    with pytest.raises(ValueError, match="how"):
        spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom", how="full")
    # outer variants require the preserved side's id column
    with pytest.raises(ValueError, match="point_id"):
        spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom", how="left")
    with pytest.raises(ValueError, match="poly_id"):
        spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom", how="right")


def test_knn_shuffled_queries_matches_broadcast(spark, world):
    """broadcast_queries=False (the huge-query-side plan: shuffled hash
    join on cell) must return exactly the index probe's answer, distances
    and schema included."""
    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    queries = spark.createDataFrame(
        [(0, bytearray(wkb.point(10.0, 50.0))), (1, bytearray(wkb.point(13.4, 52.5)))],
        "query_id int, qgeom binary",
    )
    kw = dict(k=4, res=5, query_id="query_id", max_ring=3, tiebreak="pt_id")
    a = spatial_join.knn_join(pts, queries, **kw)
    b = spatial_join.knn_join(pts, queries, broadcast_queries=False, **kw)
    assert a.schema == b.schema
    sa = {(r["query_id"], r["pt_id"], r["dist_m"], r["knn_rank"]) for r in a.collect()}
    sb = {(r["query_id"], r["pt_id"], r["dist_m"], r["knn_rank"]) for r in b.collect()}
    assert sa == sb


def test_knn_zero_candidate_query_retries(spark):
    """Regression: a query whose seed ring contains ZERO candidates used
    to vanish silently from exact=True output (the guard aggregated only
    groups present in the result); completeness is now checked against
    the query table."""
    pts = spark.createDataFrame(
        [(i, bytearray(wkb.point(10.0 + i * 0.001, 50.0 + i * 0.001))) for i in range(20)],
        "pt_id int, geom binary",
    )
    queries = spark.createDataFrame(
        [(0, bytearray(wkb.point(10.0, 50.0))), (1, bytearray(wkb.point(-170.0, -80.0)))],
        "query_id int, qgeom binary",
    )
    out = spatial_join.knn_join(
        pts, queries, k=3, res=5, query_id="query_id", max_ring=2,
        tiebreak="pt_id", exact=True, max_retries=5, metric="degrees",
    )
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["pt_id"])
    assert set(by_q) == {0, 1}
    assert len(by_q[0]) == 3 and len(by_q[1]) == 3


def test_knn_exact_raises_when_k_unreachable(spark):
    """exact=True must FAIL LOUDLY (not silently return fewer rows) when
    fewer than k points exist at all — the exactness contract."""
    pts = spark.createDataFrame(
        [(1, bytearray(wkb.point(10.0, 50.0))), (2, bytearray(wkb.point(10.1, 50.1)))],
        "pt_id int, geom binary",
    )
    queries = spark.createDataFrame(
        [(0, bytearray(wkb.point(10.0, 50.0)))], "query_id int, qgeom binary"
    )
    with pytest.raises(RuntimeError, match="still inexact"):
        spatial_join.knn_join(
            pts, queries, k=5, res=5, query_id="query_id", max_ring=1,
            tiebreak="pt_id", exact=True, max_retries=2, metric="degrees",
        )


def test_knn_meters_property_sweep(spark):
    """Round-3 VERDICT ask #5: brute-force parity for the meters-metric
    exactness guard at >=100k points. res=11 with max_ring=1 makes the
    seed ring usually too small for k=10, so the guard + ring-expansion
    retry path does the real work; queries include the projection centre
    (10E, 52N), far-from-centre domain corners (where the LAEA cap bound
    is loosest), and points snapped ~1e-9 deg from cell boundaries."""
    import pandas as pd

    from pda_spark.geo import proj

    rng = np.random.default_rng(7)
    n = 120_000
    plon = rng.uniform(-25.0, 55.0, n)
    plat = rng.uniform(28.0, 70.0, n)
    pts = spark.createDataFrame(
        pd.DataFrame({"pt_id": np.arange(n, dtype=np.int64), "lon": plon, "lat": plat})
    )

    res, k = 11, 10
    lon_step, lat_step = 360.0 / (1 << res), 180.0 / (1 << res)
    qlon = list(rng.uniform(-25.0, 55.0, 24))
    qlat = list(rng.uniform(28.0, 70.0, 24))
    # projection centre + far corners of the domain
    qlon += [10.0, -24.9, 54.9, -24.9, 54.9]
    qlat += [52.0, 28.1, 28.1, 69.9, 69.9]
    # near-cell-boundary queries (guard must shrink to ~0 and retry)
    bx = np.floor((10.0 + 180.0) / lon_step) * lon_step - 180.0
    by = np.floor((52.0 + 90.0) / lat_step) * lat_step - 90.0
    qlon += [bx + 1e-9, 10.0, bx + 1e-9]
    qlat += [52.0, by + 1e-9, by + 1e-9]
    queries = spark.createDataFrame(
        [(i, bytearray(wkb.point(lo, la))) for i, (lo, la) in enumerate(zip(qlon, qlat))],
        "query_id int, qgeom binary",
    )

    got = spatial_join.knn_join(
        pts,
        queries,
        k=k,
        res=res,
        max_ring=1,
        metric="meters",
        tiebreak="pt_id",
        lonlat_cols=("lon", "lat"),
    ).collect()

    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["knn_rank"])):
        by_q.setdefault(r["query_id"], []).append(r["pt_id"])
    assert set(by_q) == set(range(len(qlon)))

    # brute force with the identical float chain (proj.fwd + hypot)
    px, py = proj.fwd(plon, plat)
    for qi, (lo, la) in enumerate(zip(qlon, qlat)):
        qx, qy = proj.fwd(np.asarray([lo]), np.asarray([la]))
        d = np.hypot(px - qx[0], py - qy[0])
        idx = np.lexsort((np.arange(n), d))[:k]
        assert by_q[qi] == [int(i) for i in idx], f"query {qi} at ({lo},{la})"


from conftest import formatted_plan as _formatted_plan
from conftest import n_arrow_nodes as _n_arrow_nodes
from conftest import jobs_in_group


def test_salt_spreads_identical_hot_rows(spark):
    """The skew salt must split FULLY IDENTICAL rows (the duplicate-heavy
    hot-key case salting exists for) across every bucket — a content hash
    maps them all to one salt value (VERDICT r3)."""
    hot = spark.range(256).select(
        F.lit(7).alias("k"), F.lit("same-payload").alias("v")
    )
    salted = spatial_join._salted(hot, 8, "big")
    counts = {r["_salt"]: r["n"] for r in salted.groupBy("_salt").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == set(range(8))
    assert max(counts.values()) <= 2 * min(counts.values())


def test_pip_join_wkb_single_decode_stage(spark, world):
    """WKB-input PIP join (no lonlat_cols): the point WKB decode, the
    cell probe and the PIP refine are ONE Python node (the index probe's
    mapInArrow pass); the polygon side is collected at build time and
    joins back through a local relation with no Python at all."""
    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    polys = world["land_cover_classes"].select(
        F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")
    )
    joined = spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom")
    plan = _formatted_plan(joined)
    assert _n_arrow_nodes(plan) == 1, plan
    assert "MapInArrow" in plan, plan


def test_intersects_join_bbox_single_decode_stage(spark, world):
    """Polygon x polygon join: bbox_arr evaluated once per side. The
    join's bbox reads infer an isnotnull filter below the projection;
    Catalyst would clone a deterministic bbox_arr into it: a second WKB
    decode and Python worker per task on each side (5 ArrowEvalPython
    nodes)."""
    joined = spatial_join.intersects_join(
        world["sat_images"].select(F.col("id").alias("img_id"), "geom"),
        world["land_cover_classes"].select(
            F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")
        ),
        res=6,
        right_geom="lc_geom",
        refine="kernel",
    )
    plan = _formatted_plan(joined)
    # one bbox_arr per side + one intersects_pair refine
    assert _n_arrow_nodes(plan) == 3, plan


def test_knn_query_struct_udf_single_eval(spark, world):
    """kNN query side: ring_cells struct UDF evaluated once, not once per
    .cells/.guard/.qlon/.qlat access — in the non-broadcast path the
    query side is a big table and the decode ran 4x (VERDICT r3)."""
    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    queries = world["cities"].select(F.col("id").alias("query_id"), F.col("geom").alias("qgeom"))
    out = spatial_join.knn_join(
        pts, queries, k=1, res=5, metric="degrees", exact=False, broadcast_queries=False
    )
    plan = _formatted_plan(out)
    # one point_cell_lonlat (point leg) + one ring_cells (query leg)
    assert _n_arrow_nodes(plan) == 2, plan


def test_pip_join_outer_variants_match_bruteforce(spark, world):
    """how='left' keeps every point (null polygon cols when unmatched);
    how='right' keeps every polygon (null point cols) — the reference
    dashboard's 'cities with zero images' ask. Inner rows must be
    byte-identical to how='inner'."""
    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    polys = world["land_cover_classes"].select(
        F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")
    )
    inner = spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom")
    inner_pairs = {(r["pt_id"], r["lc_id"]) for r in inner.collect()}

    left = spatial_join.points_in_polygons_join(
        pts, polys, res=7, poly_geom="lc_geom", how="left", point_id="pt_id"
    )
    lrows = left.collect()
    assert {(r["pt_id"], r["lc_id"]) for r in lrows if r["lc_id"] is not None} == inner_pairs
    matched_pts = {p for p, _ in inner_pairs}
    unmatched = {r["pt_id"] for r in lrows if r["lc_id"] is None}
    all_pts = {r["pt_id"] for r in pts.collect()}
    assert unmatched == all_pts - matched_pts
    for r in lrows:
        if r["lc_id"] is None:
            assert r["lc_geom"] is None

    right = spatial_join.points_in_polygons_join(
        pts, polys, res=7, poly_geom="lc_geom", how="right", poly_id="lc_id"
    )
    rrows = right.collect()
    assert {(r["pt_id"], r["lc_id"]) for r in rrows if r["pt_id"] is not None} == inner_pairs
    matched_polys = {l for _, l in inner_pairs}
    all_polys = {r["lc_id"] for r in polys.collect()}
    assert {r["lc_id"] for r in rrows if r["pt_id"] is None} == all_polys - matched_polys


def test_auto_res_bounds_mixed_size_fanout(spark):
    """res='auto' (cells.choose_res over a bbox sample): a mixed fixture
    of country-scale and scene-scale boxes must keep the per-geometry
    cover fan-out bounded, and the join answer must equal the fixed-res
    answer (resolution only affects the plan, never the result)."""
    import numpy as np

    from pda_spark.functions import geo_udfs as G
    from pda_spark.geo import wkb

    rng = np.random.default_rng(7)
    polys = []
    for i in range(40):  # country-scale: 8-15 deg extents
        x, y = rng.uniform(-20, 0), rng.uniform(38, 50)
        w, h = rng.uniform(8, 15), rng.uniform(8, 15)
        polys.append((i, bytearray(wkb.box(x, y, x + w, y + h))))
    for i in range(400):  # scene-scale: ~0.1 deg
        x, y = rng.uniform(-20, 15), rng.uniform(38, 58)
        polys.append((1000 + i, bytearray(wkb.box(x, y, x + 0.1, y + 0.1))))
    poly_df = spark.createDataFrame(polys, "poly_id int, pgeom binary")
    pts = spark.createDataFrame(
        [(int(i), float(lo), float(la))
         for i, (lo, la) in enumerate(zip(rng.uniform(-20, 15, 3000), rng.uniform(38, 58, 3000)))],
        "pt_id int, lon double, lat double",
    )

    res = spatial_join._auto_res(poly_df, "pgeom")
    assert 2 <= res <= 12
    # fan-out cap: even the p95+ geometries cover a bounded cell count
    bb = poly_df.select(G.bbox_arr(F.col("pgeom")).alias("bb"))
    cover = G.cover_cells_bbox_expr(F.col("bb")[0], F.col("bb")[1], F.col("bb")[2], F.col("bb")[3], res)
    fan = bb.select(F.size(cover).alias("n"))
    mx = fan.agg(F.max("n")).first()[0]
    assert mx <= 64, f"res={res} max fan-out {mx}"

    auto = spatial_join.points_in_polygons_join(
        pts, poly_df, res="auto", poly_geom="pgeom", lonlat_cols=("lon", "lat"),
    )
    fixed = spatial_join.points_in_polygons_join(
        pts, poly_df, res=7, poly_geom="pgeom", lonlat_cols=("lon", "lat"),
    )
    assert {(r["pt_id"], r["poly_id"]) for r in auto.collect()} == {
        (r["pt_id"], r["poly_id"]) for r in fixed.collect()
    }


def test_knn_geodesic_matches_bruteforce_sweep(spark):
    """metric='geodesic' (haversine on the authalic sphere) against a
    100k+-point numpy brute force using the IDENTICAL float chain —
    including high latitudes and an antimeridian-straddling cluster
    where planar degrees break down."""
    import numpy as np
    import pandas as pd

    from pda_spark.functions.geo_udfs import haversine_m
    from pda_spark.geo import proj, wkb

    rng = np.random.default_rng(1234)
    n, k, res = 120_000, 5, 6
    plon = np.concatenate([
        rng.uniform(-180, 180, n - 20_000),
        rng.uniform(170, 190, 10_000),          # antimeridian cluster (wraps)
        rng.uniform(-30, 60, 10_000),
    ])
    plon = np.where(plon > 180, plon - 360, plon)
    plat = np.concatenate([
        rng.uniform(-85, 85, n - 20_000),
        rng.uniform(50, 75, 9_000),
        rng.uniform(89.9, 89.9999, 1_000),      # polar cap cluster
        rng.uniform(60, 84, 10_000),            # high latitudes
    ])
    pts = spark.createDataFrame(
        pd.DataFrame({"pt_id": np.arange(n, dtype=np.int64), "lon": plon, "lat": plat})
    )
    # 89.995: the near-polar sliver where a sub-pi/2 phi_ext clamp made
    # the old lon-case guard unsound (certified wrong answers) — now the
    # guard falls back to the lat-only bound once the ring wraps
    qlon = [0.0, 179.97, -179.98, 10.0, -120.0, 45.0, 33.0]
    qlat = [45.0, 62.0, 61.5, 83.0, -70.0, 0.01, 89.995]
    queries = spark.createDataFrame(
        [(i, bytearray(wkb.point(lo, la))) for i, (lo, la) in enumerate(zip(qlon, qlat))],
        "query_id int, qgeom binary",
    )
    got = spatial_join.knn_join(
        pts, queries, k=k, res=res, max_ring=1, metric="geodesic",
        tiebreak="pt_id", lonlat_cols=("lon", "lat"),
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["knn_rank"])):
        by_q.setdefault(r["query_id"], []).append(r["pt_id"])
    assert set(by_q) == set(range(len(qlon)))
    for qi, (lo, la) in enumerate(zip(qlon, qlat)):
        d = haversine_m(np.full(n, lo), np.full(n, la), plon, plat, proj.RQ)
        idx = np.lexsort((np.arange(n), d))[:k]
        assert by_q[qi] == [int(i) for i in idx], f"query {qi} at ({lo},{la})"


def test_within_distance_join_matches_bruteforce(spark):
    import numpy as np

    rng = np.random.default_rng(42)
    n = 5000
    plon, plat = rng.uniform(-20, 20, n), rng.uniform(36, 61, n)
    pts = spark.createDataFrame(
        [(int(i), float(plon[i]), float(plat[i])) for i in range(n)],
        "pt_id int, lon double, lat double",
    )
    centers = [(0, -10.0, 45.0), (1, 10.0, 42.0), (2, 0.0, 58.0)]
    cdf = spark.createDataFrame(centers, "query_id int, clon double, clat double")
    r = 3.3
    got = {
        (row["pt_id"], row["query_id"])
        for row in spatial_join.within_distance_join(pts, cdf, radius=r, res=5).collect()
    }
    want = {
        (i, q)
        for i in range(n)
        for (q, cx, cy) in centers
        if np.sqrt((plon[i] - cx) ** 2 + (plat[i] - cy) ** 2) <= r
    }
    assert got == want
    # zero Python stages: the whole plan must be JVM-side
    plan = _formatted_plan(spatial_join.within_distance_join(pts, cdf, radius=r, res=5))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_multires_pip_matches_fixed_res_and_bounds_fanout(spark):
    """Mixed continent/scene polygons through the per-geometry-resolution
    join: answers identical to the fixed-res join (resolution never
    changes results), and every geometry's cover stays bounded even
    though extents span 2 orders of magnitude."""
    import numpy as np

    from pda_spark.geo import wkb

    rng = np.random.default_rng(3)
    polys = []
    for i in range(20):   # continent-scale
        x, y = rng.uniform(-20, -5, 2)[0], rng.uniform(38, 48)
        polys.append((i, bytearray(wkb.box(x, y, x + rng.uniform(8, 15), y + rng.uniform(8, 12)))))
    for i in range(300):  # scene-scale
        x, y = rng.uniform(-20, 15), rng.uniform(38, 58)
        polys.append((100 + i, bytearray(wkb.box(x, y, x + 0.12, y + 0.12))))
    poly_df = spark.createDataFrame(polys, "poly_id int, pgeom binary")
    n = 4000
    plon, plat = rng.uniform(-20, 16, n), rng.uniform(37, 59, n)
    pts = spark.createDataFrame(
        [(int(i), float(plon[i]), float(plat[i])) for i in range(n)],
        "pt_id int, lon double, lat double",
    )
    multi = spatial_join.points_in_polygons_join_multires(
        pts, poly_df, resolutions=(3, 5, 7, 9), poly_geom="pgeom", lonlat_cols=("lon", "lat")
    )
    fixed = spatial_join.points_in_polygons_join(
        pts, poly_df, res=7, poly_geom="pgeom", lonlat_cols=("lon", "lat")
    )
    got = {(r["pt_id"], r["poly_id"]) for r in multi.collect()}
    assert got == {(r["pt_id"], r["poly_id"]) for r in fixed.collect()}
    # no duplicate pairs: a pair meets at exactly one resolution
    assert multi.count() == len(got)
    # per-geometry fan-out bound: rerun the cover logic the operator uses
    from pda_spark.geo import cells as C
    from pda_spark.geo import kernels

    for _pid, buf in polys:
        g = wkb.decode(bytes(buf))
        bb = kernels.bbox(g)
        dim = max(bb[2] - bb[0], bb[3] - bb[1])
        r = max(3, min(9, C.choose_res(dim, 4)))
        r = max(x for x in (3, 5, 7, 9) if x <= r)
        assert len(C.cover_bbox(*bb, r)) <= 36


def test_pip_join_outer_null_id_not_duplicated(spark, world):
    """A matched point whose point_id is NULL must appear exactly once:
    the backfill anti-join is null-SAFE (plain left_anti treats
    NULL != NULL and would emit the row a second time, null-padded)."""
    polys = world["land_cover_classes"].select(
        F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")
    )
    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    # one matched city gets a NULL id
    inner0 = spatial_join.points_in_polygons_join(pts, polys, res=7, poly_geom="lc_geom")
    some_matched = inner0.select("pt_id").first()["pt_id"]
    pts_null = pts.withColumn(
        "pt_id", F.when(F.col("pt_id") == some_matched, F.lit(None)).otherwise(F.col("pt_id"))
    )
    left = spatial_join.points_in_polygons_join(
        pts_null, polys, res=7, poly_geom="lc_geom", how="left", point_id="pt_id"
    )
    null_rows = [r for r in left.collect() if r["pt_id"] is None]
    # the null-id city matched >= 1 polygon, so NO null-padded copy may exist
    assert all(r["lc_id"] is not None for r in null_rows)


def test_intersects_join_outer_variants(spark, world):
    imgs = world["sat_images"].select(F.col("id").alias("img_id"), "geom")
    lcs = world["land_cover_classes"].select(
        F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom")
    )
    inner = spatial_join.intersects_join(imgs, lcs, res=6, right_geom="lc_geom")
    inner_pairs = {(r["img_id"], r["lc_id"]) for r in inner.collect()}
    right = spatial_join.intersects_join(
        imgs, lcs, res=6, right_geom="lc_geom", how="right", right_id="lc_id"
    )
    rrows = right.collect()
    assert {(r["img_id"], r["lc_id"]) for r in rrows if r["img_id"] is not None} == inner_pairs
    all_lcs = {r["lc_id"] for r in lcs.collect()}
    matched = {l for _, l in inner_pairs}
    assert {r["lc_id"] for r in rrows if r["img_id"] is None} == all_lcs - matched
    left = spatial_join.intersects_join(
        imgs, lcs, res=6, right_geom="lc_geom", how="left", left_id="img_id"
    )
    lrows = left.collect()
    all_imgs = {r["img_id"] for r in imgs.collect()}
    assert {r["img_id"] for r in lrows if r["lc_id"] is None} == all_imgs - {i for i, _ in inner_pairs}


def test_intersects_multires_brute_force_parity(spark):
    """Mixed-extent polygon x polygon multires join: pair set equals the
    brute-force bbox-overlap truth AND each pair appears exactly once
    (the coarser-side meeting level + SW-reference-point rule — no
    dedup shuffle to hide double-emits)."""
    from pyspark.sql import functions as SF

    from pda_spark.operators import spatial_join
    from pda_spark.plans.fixtures import _mk_box

    def mk(prefix, n, seed, off):
        # `off` keeps the two sides' box edges off each other's grid —
        # exact-touch pairs would be float-undefined in BOTH the kernel
        # and the python truth (same trick as the q45/q95 fixtures)
        d = spark.range(n).select(
            (SF.col("id") + seed).alias(f"{prefix}_id"),
            (SF.pmod(SF.col("id") * 37 + seed, SF.lit(300)) / 10.0 - 15.0 + off).alias("x"),
            (SF.pmod(SF.col("id") * 53 + seed, SF.lit(160)) / 10.0 + 40.0 + off).alias("y"),
            SF.when(SF.pmod(SF.col("id"), SF.lit(3)) == 0, SF.lit(5.0))
            .otherwise(SF.pmod(SF.col("id"), SF.lit(4)) / 10.0 + 0.2).alias("h"),
        )
        return d.withColumn(
            f"{prefix}_geom",
            _mk_box(SF.col("x") - SF.col("h"), SF.col("y") - SF.col("h"),
                    SF.col("x") + SF.col("h"), SF.col("y") + SF.col("h")),
        )

    A, B = mk("a", 40, 1, 0.0), mk("b", 35, 7, 0.00137)
    got = spatial_join.intersects_join_multires(
        A.select("a_id", "a_geom"), B.select("b_id", "b_geom"),
        resolutions=(3, 5, 7), left_geom="a_geom", right_geom="b_geom",
    ).select("a_id", "b_id")
    rows = [(r["a_id"], r["b_id"]) for r in got.collect()]
    assert len(rows) == len(set(rows)), "pair emitted more than once"
    # brute-force truth: box-CORNER interval overlap, the same float
    # arithmetic the kernel's bbox comparisons use
    av = [(r["a_id"], r["x"], r["y"], r["h"]) for r in A.collect()]
    bv = [(r["b_id"], r["x"], r["y"], r["h"]) for r in B.collect()]
    want = {
        (ai, bi)
        for ai, ax, ay, ah in av
        for bi, bx, by, bh in bv
        if ax - ah <= bx + bh and bx - bh <= ax + ah
        and ay - ah <= by + bh and by - bh <= ay + ah
    }
    assert set(rows) == want


def test_intersects_join_same_geom_name_disambiguated(spark):
    """ADVICE r5: with the default left_geom=right_geom='geom' the
    post-join refine used to raise AMBIGUOUS_REFERENCE; the right side
    is now renamed to geom_right internally (self-join works)."""
    from pyspark.sql import functions as SF

    from pda_spark.operators import spatial_join
    from pda_spark.plans.fixtures import _mk_box

    def mk(n, seed, off):
        d = spark.range(n).select(
            (SF.col("id") + seed).alias("gid"),
            (SF.pmod(SF.col("id") * 37 + seed, SF.lit(200)) / 10.0 + off).alias("x"),
            (SF.pmod(SF.col("id") * 53 + seed, SF.lit(120)) / 10.0 + 40.0 + off).alias("y"),
        )
        return d.select(
            "gid",
            _mk_box(SF.col("x") - 0.4, SF.col("y") - 0.4,
                    SF.col("x") + 0.4, SF.col("y") + 0.4).alias("geom"),
        )

    A, B = mk(25, 1, 0.0), mk(20, 5, 0.00137)
    for fn, kw in (
        (spatial_join.intersects_join, {"res": 6}),
        (spatial_join.intersects_join_multires, {"resolutions": (4, 6)}),
    ):
        out = fn(
            A.withColumnRenamed("gid", "a_id"),
            B.withColumnRenamed("gid", "b_id"),
            **kw,
        )
        assert "geom" in out.columns and "geom_right" in out.columns
        n = out.count()  # must not raise AMBIGUOUS_REFERENCE
        assert n > 0
    # pair parity between the two operators on the same-name fixture
    p1 = set(
        (r["a_id"], r["b_id"])
        for r in spatial_join.intersects_join(
            A.withColumnRenamed("gid", "a_id"),
            B.withColumnRenamed("gid", "b_id"), res=6,
        ).select("a_id", "b_id").collect()
    )
    p2 = set(
        (r["a_id"], r["b_id"])
        for r in spatial_join.intersects_join_multires(
            A.withColumnRenamed("gid", "a_id"),
            B.withColumnRenamed("gid", "b_id"), resolutions=(4, 6),
        ).select("a_id", "b_id").collect()
    )
    assert p1 == p2


# ---- kNN exactness counted on the checkpoint's own job ------------------

# res 6 cells are 5.625 x 2.8125 deg, so ring 1 certifies a 2.8125 deg
# radius and ring 4 (one retry) 11.25 deg: a 5x5 cluster near (10, 50)
# and five points on lat -20 at lon 40..44 (all in column 39)
_KNN_PTS = [(i, 10.0 + 0.1 * (i % 5), 50.0 + 0.1 * (i // 5)) for i in range(25)] + [
    (100 + j, 40.0 + j, -20.0) for j in range(5)
]
_KNN_KW = dict(
    k=3, res=6, max_ring=1, metric="degrees", tiebreak="pt_id",
    lonlat_cols=("lon", "lat"), query_id="query_id", exact=True,
)


def _knn_run(spark, queries, group):
    """knn_join(...).toPandas() for (query_id, lon, lat) queries under
    job group ``group``: (rows, jobs run)."""
    pts = spark.createDataFrame(_KNN_PTS, "pt_id int, lon double, lat double")
    qs = spark.createDataFrame(
        [(q, bytearray(wkb.point(x, y))) for q, x, y in queries], "query_id int, qgeom binary"
    )
    return jobs_in_group(
        spark,
        group,
        lambda: spatial_join.knn_join(pts, qs, **_KNN_KW)
        .select("query_id", "pt_id", "dist_m", "knn_rank")
        .toPandas(),
    )


def _knn_brute(queries, k=3):
    """Top-k per query id over every (query row, point) pair, ordered by
    (distance, pt_id) with the operator's IEEE754 op order."""
    by_id: dict = {}
    for q, x, y in queries:
        for pid, lon, lat in _KNN_PTS:
            dx, dy = np.float64(lon) - x, np.float64(lat) - y
            by_id.setdefault(q, []).append((float(np.sqrt(dx * dx + dy * dy)), pid))
    return sorted(
        (q, pid, d, rank)
        for q, cand in by_id.items()
        for rank, (d, pid) in enumerate(sorted(cand)[:k], start=1)
    )


def _knn_rows(rows):
    return sorted(
        (int(r.query_id), int(r.pt_id), float(r.dist_m), int(r.knn_rank)) for r in rows.itertuples()
    )


def test_knn_exact_fast_path_jobs(spark):
    """All queries complete at the seed ring: the counts observed on the
    checkpoint's job match, so the whole call (checkpoint plus the
    consumer's collect) runs at most 4 jobs."""
    queries = [(0, 10.2, 50.2), (1, 10.05, 50.35), (2, 10.3, 50.0)]
    rows, jobs = _knn_run(spark, queries, "knn-fast")
    assert _knn_rows(rows) == _knn_brute(queries)
    assert jobs <= 4, jobs


def test_knn_exact_duplicate_query_ids(spark):
    """Two query rows share an id: one id cannot certify two rows, so
    the guard loop runs; its answer is the top-k over both rows'
    candidates."""
    queries = [(5, 10.1, 50.1), (5, 10.1, 50.1), (6, 10.3, 50.3)]
    rows, jobs = _knn_run(spark, queries, "knn-dup")
    assert _knn_rows(rows) == _knn_brute(queries)
    assert jobs > 4, jobs


def test_knn_exact_null_query_id_raises(spark):
    """A NULL query id matches no complete id and shares one window
    partition with every other NULL id, so no ring can certify it: the
    call raises, naming the id column, from the collected query table —
    its one job is that collect (no candidate pass, no retry)."""
    pts = spark.createDataFrame(_KNN_PTS, "pt_id int, lon double, lat double")
    queries = spark.createDataFrame(
        [(None, bytearray(wkb.point(10.1, 50.1))), (1, bytearray(wkb.point(10.2, 50.2)))],
        "query_id int, qgeom binary",
    )

    def null_call():
        with pytest.raises(ValueError, match="query_id"):
            spatial_join.knn_join(pts, queries, max_retries=1, **_KNN_KW)

    _, jobs = jobs_in_group(spark, "knn-null", null_call)
    assert jobs <= 1, jobs


def test_knn_exact_zero_candidate_query(spark):
    """(33, -20) has no point in its seed ring (column 37, ring 36..38);
    one retry at ring 4 certifies its 3rd neighbour at 9 deg."""
    queries = [(0, 10.2, 50.2), (1, 33.0, -20.0)]
    rows, _ = _knn_run(spark, queries, "knn-zero")
    assert _knn_rows(rows) == _knn_brute(queries)


def test_knn_exact_one_ring_retry(spark):
    """(38.5, -20) finds all five far points in its seed ring, but its
    3rd neighbour (3.5 deg) lies beyond the ring's 2.8125 deg guard:
    one retry at ring 4 certifies it."""
    queries = [(0, 10.2, 50.2), (1, 38.5, -20.0)]
    rows, jobs = _knn_run(spark, queries, "knn-retry")
    assert _knn_rows(rows) == _knn_brute(queries)
    assert jobs > 4, jobs


def test_knn_exact_empty_inputs(spark):
    """An input the optimizer proves empty prunes the observed subtree;
    the check then falls back to the guard loop: no queries give no
    rows, no points leave every query inexact."""
    pts = spark.createDataFrame(_KNN_PTS, "pt_id int, lon double, lat double")
    qs = spark.createDataFrame(
        [(0, bytearray(wkb.point(10.2, 50.2)))], "query_id int, qgeom binary"
    )
    none = F.lit(False)
    assert spatial_join.knn_join(pts, qs.filter(none), **_KNN_KW).count() == 0
    with pytest.raises(RuntimeError, match="1 queries still inexact"):
        spatial_join.knn_join(pts.filter(none), qs, max_retries=1, **_KNN_KW)


def test_builders_py4j_round_trip_budget(spark):
    """Building the joins (no action) stays within a py4j round-trip
    budget: their cell, cover and filter expressions are parsed from SQL
    text, not chained from Column operators at one or more round trips
    each (the Column-chain builders made 470-2,500 per call). Counted on
    this thread after one warm-up build, with cyclic gc paused so no
    JVM-object release lands inside the count."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    pts = spark.createDataFrame(
        [(1, 10.0, 50.0, bytearray(wkb.point(10.0, 50.0)))],
        "pt_id int, lon double, lat double, geom binary",
    )
    polys = spark.createDataFrame(
        [(7, bytearray(wkb.box(9.0, 49.0, 11.0, 51.0)))], "poly_id int, pgeom binary"
    )
    qs = spark.createDataFrame(
        [(0, bytearray(wkb.point(10.0, 50.0)), 10.0, 50.0)],
        "query_id int, qgeom binary, clon double, clat double",
    )
    builders = {
        "points_in_polygons_join": (100, lambda: spatial_join.points_in_polygons_join(
            pts, polys, res=7, poly_geom="pgeom", lonlat_cols=("lon", "lat"))),
        "intersects_join": (95, lambda: spatial_join.intersects_join(
            polys, polys, res=6, left_geom="pgeom", right_geom="pgeom")),
        "knn_join": (150, lambda: spatial_join.knn_join(
            pts, qs, k=1, res=6, exact=False, lonlat_cols=("lon", "lat"), tiebreak="pt_id")),
        "within_distance_join": (40, lambda: spatial_join.within_distance_join(
            pts, qs, 0.5, res=6)),
    }
    thread = threading.get_ident()
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, *a, **kw):
        if threading.get_ident() == thread:
            calls[0] += 1
        return send(self, *a, **kw)

    used = {}
    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counted
    try:
        for name, (_, build) in builders.items():
            build()
            calls[0] = 0
            build()
            used[name] = calls[0]
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
    over = {n: (used[n], budget) for n, (budget, _) in builders.items() if used[n] > budget}
    assert not over, f"round trips over budget (used, budget): {over}"


@pytest.mark.parametrize("op", [
    "points_in_polygons_join", "points_in_polygons_join_auto", "knn_join", "knn_join_retry",
    "intersects_join", "union_area_by_cells", "rasterize_polygons",
])
def test_operator_warm_repeat_compiles_nothing(spark, world, op):
    """A second call of an operator on the same inputs generates the same
    code as the first, so it is served from Spark's codegen cache."""
    from pda_spark.operators import tiling
    from pda_spark.session import codegen_compiles

    pts = world["cities"].select(F.col("id").alias("pt_id"), "geom")
    imgs = world["sat_images"].select(F.col("id").alias("img_id"), "geom")
    lcs = world["land_cover_classes"]
    polys = lcs.select(F.col("id").alias("lc_id"), F.col("geom").alias("lc_geom"))
    knn_pts = spark.createDataFrame(_KNN_PTS, "pt_id int, lon double, lat double")
    # knn_join: every query is certified at the seed ring; knn_join_retry:
    # (38.5, -20) needs one ring retry (test_knn_exact_one_ring_retry),
    # so the call runs the NULL-id check and the retry loop's emptiness test
    qs, qs_retry = (
        spark.createDataFrame(
            [(q, bytearray(wkb.point(x, y))) for q, x, y in [(0, 10.2, 50.2), second]],
            "query_id int, qgeom binary",
        )
        for second in [(1, 10.3, 50.0), (1, 38.5, -20.0)]
    )
    for df in world.values():
        df.count()  # a cache filled by the first call changes the second's plan
    calls = {
        "points_in_polygons_join": lambda: spatial_join.points_in_polygons_join(
            pts, polys, res=7, poly_geom="lc_geom"),
        # res="auto" picks the resolution from the collected polygons,
        # with no sampling job of its own
        "points_in_polygons_join_auto": lambda: spatial_join.points_in_polygons_join(
            pts, polys, res="auto", poly_geom="lc_geom"),
        "knn_join": lambda: spatial_join.knn_join(knn_pts, qs, **_KNN_KW),
        "knn_join_retry": lambda: spatial_join.knn_join(knn_pts, qs_retry, **_KNN_KW),
        "intersects_join": lambda: spatial_join.intersects_join(
            imgs, polys, res=6, right_geom="lc_geom"),
        "union_area_by_cells": lambda: tiling.union_area_by_cells(lcs, res=6),
        "rasterize_polygons": lambda: tiling.rasterize_polygons(lcs, res=7),
    }
    first = sorted(calls[op]().collect())
    before = codegen_compiles(spark)
    assert sorted(calls[op]().collect()) == first
    assert codegen_compiles(spark) - before == 0
