"""The broadcast index probe behind ``points_in_polygons_join[_multires]``
and ``knn_join``: exact agreement with brute force (kNN distances compared
bit for bit) across Arrow batch boundaries, distance ties, duplicate query
ids, hot cells split into probe chunks, points on edges, vertices and cell
boundaries, holes and multipolygons, NULL and NaN inputs, empty sides and
all three metrics."""

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pda_spark.functions.geo_udfs import haversine_m
from pda_spark.geo import kernels, proj, wkb
from pda_spark.operators import spatial_join

from conftest import jobs_in_group

RES = 6  # cells are 5.625 x 2.8125 deg
LON_STEP, LAT_STEP = 360.0 / (1 << RES), 180.0 / (1 << RES)
# one res-6 cell, (11.25, 47.8125) - (16.875, 50.625)
CELL = (
    -180.0 + 34 * LON_STEP, -90.0 + 49 * LAT_STEP, -180.0 + 35 * LON_STEP, -90.0 + 50 * LAT_STEP
)


@contextlib.contextmanager
def _batch_rows(spark, n):
    """Arrow batches of ``n`` rows (None: the session default)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if n is not None:
        spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _star(cx, cy, r, n, hole=False):
    ang = 2 * np.pi * np.arange(n) / n
    rad = r * np.where(np.arange(n) % 2, 0.55, 1.0)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    rings = [np.vstack([ring, ring[:1]])]
    if hole:
        h = np.column_stack([cx + 0.2 * r * np.cos(ang), cy + 0.2 * r * np.sin(ang)])[::-1]
        rings.append(np.vstack([h, h[:1]]))
    return rings


def _polygon_rows():
    """(poly_id, WKB or None): holed stars, a multipolygon, a box that is
    exactly one res-6 cell, a triangle with a vertex on a test point,
    nested boxes and a NULL geometry."""
    rows = [(i, wkb.polygon(_star(2.0 + 3.0 * i, 44.0 + 2.0 * (i % 4), 1.6, 14, hole=i % 2 == 0)))
            for i in range(7)]
    sq = lambda x, y, d: np.array([[x, y], [x + d, y], [x + d, y + d], [x, y + d], [x, y]])
    holed = [sq(8.0, 55.0, 2.0), sq(8.5, 55.5, 0.5)[::-1]]
    rows.append((7, wkb.multipolygon([[sq(4.0, 52.0, 1.5)], holed])))
    rows.append((8, wkb.box(*CELL)))
    tri = np.array([[20.0, 50.0], [24.0, 50.0], [22.0, 53.0], [20.0, 50.0]])
    rows.append((9, wkb.polygon([tri])))
    rows += [(10 + j, wkb.box(19.0 - j * 0.1, 55.0 - j * 0.1, 21.0 + j * 0.1, 57.0 + j * 0.1))
             for j in range(6)]
    rows.append((99, None))
    return rows


def _point_rows(seed=3, n=300):
    """(pt_id, lon, lat): random points, points on the cell box's
    vertices and edges, on other cell boundaries and on a triangle
    vertex, a duplicated location, a NULL lon and a NaN lat."""
    rng = np.random.default_rng(seed)
    xs = list(rng.uniform(0.0, 25.0, n))
    ys = list(rng.uniform(40.0, 60.0, n))
    x0, y0, x1, y1 = CELL
    special = [
        (x0, y0), (x1, y1), (x0, y1), (x1, y0), ((x0 + x1) / 2, y0), (x0, (y0 + y1) / 2),
        ((x0 + x1) / 2, y1), (x1, (y0 + y1) / 2), (x0 - LON_STEP, 45.0), (5.625, 2.8125 * 17),
        (20.0, 50.0), (22.0, 51.0), (20.0, 56.0), (20.0, 56.0), (20.0, 56.0),
    ]
    xs += [p[0] for p in special]
    ys += [p[1] for p in special]
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    return pts + [(len(pts), None, 50.0), (len(pts) + 1, 10.0, float("nan"))]


def _points_df(spark, rows):
    return spark.createDataFrame(
        [(i, x, y, None if x is None else bytearray(wkb.point(x, y))) for i, x, y in rows],
        "pt_id long, lon double, lat double, geom binary",
    )


def _polys_df(spark, rows):
    return spark.createDataFrame(
        [(i, None if g is None else bytearray(g)) for i, g in rows], "poly_id int, pgeom binary"
    )


def _finite(rows):
    return [(i, x, y) for i, x, y in rows if x is not None and np.isfinite(x) and np.isfinite(y)]


def _pip_brute(pts, polys):
    out = set()
    for pid, g in polys:
        if g is None:
            continue
        dg = wkb.decode(g)
        bx0, by0, bx1, by1 = kernels.bbox(dg)
        for i, x, y in _finite(pts):
            if bx0 <= x <= bx1 and by0 <= y <= by1 and kernels.points_in_polygons(
                np.array([[x, y]]), dg.polygons()
            )[0]:
                out.add((i, pid))
    return out


@pytest.mark.parametrize("batch", [1, 2, None])
def test_pip_probe_matches_bruteforce(spark, batch):
    pts, polys = _point_rows(), _polygon_rows()
    want = _pip_brute(pts, polys)
    assert len(want) > 50
    pdf, gdf = _points_df(spark, pts), _polys_df(spark, polys)
    with _batch_rows(spark, batch):
        for kw in (dict(lonlat_cols=("lon", "lat")), {}):
            for res in (RES, 9, "auto"):
                got = spatial_join.points_in_polygons_join(
                    pdf, gdf, res=res, poly_geom="pgeom", **kw
                ).select("pt_id", "poly_id").collect()
                assert len(got) == len(want), (kw, res)
                assert {(r.pt_id, r.poly_id) for r in got} == want, (kw, res)
        multi = spatial_join.points_in_polygons_join_multires(
            pdf, gdf, resolutions=(3, 5, 7), poly_geom="pgeom", lonlat_cols=("lon", "lat")
        ).select("pt_id", "poly_id").collect()
        assert sorted((r.pt_id, r.poly_id) for r in multi) == sorted(want)


def test_pip_probe_output_columns_and_types(spark):
    """Point columns, then polygon columns, with the inputs' types; the
    polygons' WKB comes back byte for byte."""
    pts, polys = _point_rows(n=40), _polygon_rows()
    pdf, gdf = _points_df(spark, pts), _polys_df(spark, polys).withColumn("tag", F.lit("x"))
    out = spatial_join.points_in_polygons_join(pdf, gdf, res=RES, poly_geom="pgeom")
    assert out.schema.fields == pdf.schema.fields + gdf.schema.fields
    by_id = dict(polys)
    for r in out.collect():
        assert bytes(r.pgeom) == by_id[r.poly_id]


def test_pip_probe_hot_cell_chunks(spark, monkeypatch):
    """Many polygons over one point and many points in one cell, refined
    in probe chunks of 5 pairs: the same pairs as brute force."""
    monkeypatch.setattr(spatial_join, "PROBE_CHUNK_PAIRS", 5)
    polys = [(j, wkb.box(12.0 - j * 0.01, 49.0 - j * 0.01, 12.5 + j * 0.01, 49.5 + j * 0.01))
             for j in range(40)]
    rng = np.random.default_rng(9)
    pts = [(i, float(x), float(y)) for i, (x, y) in
           enumerate(zip(rng.uniform(11.9, 12.6, 200), rng.uniform(48.9, 49.6, 200)))]
    want = _pip_brute(pts, polys)
    got = spatial_join.points_in_polygons_join(
        _points_df(spark, pts), _polys_df(spark, polys), res=RES, poly_geom="pgeom",
        lonlat_cols=("lon", "lat"),
    ).select("pt_id", "poly_id").collect()
    assert len(got) == len(want) and {(r.pt_id, r.poly_id) for r in got} == want


def test_pip_null_polygon_matches_nothing(spark):
    """A NULL polygon geometry matches no point; how='right' keeps it
    with NULL point columns, how='left' keeps the NULL and NaN points."""
    pts, polys = _point_rows(n=60), _polygon_rows()
    pdf, gdf = _points_df(spark, pts), _polys_df(spark, polys)
    want = _pip_brute(pts, polys)
    inner = spatial_join.points_in_polygons_join(
        pdf, gdf, res=RES, poly_geom="pgeom", lonlat_cols=("lon", "lat")
    )
    assert {(r.pt_id, r.poly_id) for r in inner.collect()} == want
    right = spatial_join.points_in_polygons_join(
        pdf, gdf, res=RES, poly_geom="pgeom", how="right", poly_id="poly_id"
    ).collect()
    unmatched = {r.poly_id for r in right if r.pt_id is None}
    assert 99 in unmatched
    assert unmatched == {p for p, _ in polys} - {p for _, p in want}
    left = spatial_join.points_in_polygons_join(
        pdf, gdf, res=RES, poly_geom="pgeom", how="left", point_id="pt_id",
        lonlat_cols=("lon", "lat"),
    ).collect()
    lonely = {r.pt_id for r in left if r.poly_id is None}
    assert {len(pts) - 2, len(pts) - 1} <= lonely
    assert lonely == {i for i, _, _ in pts} - {i for i, _ in want}
    # a polygon side of NULLs only: an empty index
    nulls = gdf.filter("pgeom IS NULL")
    assert spatial_join.points_in_polygons_join(pdf, nulls, res=RES, poly_geom="pgeom").count() == 0
    only = spatial_join.points_in_polygons_join(
        pdf, nulls, res="auto", poly_geom="pgeom", how="right", poly_id="poly_id"
    ).collect()
    assert [(r.pt_id, r.poly_id) for r in only] == [(None, 99)]


def test_pip_probe_empty_sides(spark):
    pts, polys = _point_rows(n=20), _polygon_rows()
    pdf, gdf = _points_df(spark, pts), _polys_df(spark, polys)
    none = F.lit(False)
    for p, g in ((pdf.filter(none), gdf), (pdf, gdf.filter(none))):
        out = spatial_join.points_in_polygons_join(p, g, res="auto", poly_geom="pgeom")
        assert out.count() == 0
        assert out.columns == pdf.columns + gdf.columns
    right = spatial_join.points_in_polygons_join(
        pdf.filter(none), gdf, res=RES, poly_geom="pgeom", how="right", poly_id="poly_id"
    )
    assert sorted(r.poly_id for r in right.collect()) == sorted(p for p, _ in polys)


def _xy(metric, lon, lat):
    if metric == "meters":
        return proj.fwd(np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64))
    return np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)


def _knn_brute(pts, queries, k, metric):
    """(query_id, pt_id, dist_m bytes, knn_rank): top k per query id over
    every (query row, point) pair, ordered by (distance, pt_id); distances
    evaluated per pair."""
    pts = _finite(pts)
    ids = np.array([i for i, _, _ in pts])
    plon = np.array([x for _, x, _ in pts])
    plat = np.array([y for _, _, y in pts])
    by_id = {}
    for q, x, y in queries:
        n = len(pts)
        if metric == "meters":
            ax, ay = _xy(metric, plon, plat)
            bx, by = _xy(metric, np.full(n, x), np.full(n, y))
            d = np.hypot(ax - bx, ay - by)
        elif metric == "degrees":
            dx, dy = plon - x, plat - y
            d = np.sqrt(dx * dx + dy * dy)
        else:
            d = haversine_m(plon, plat, np.full(n, x), np.full(n, y), proj.RQ)
        by_id.setdefault(q, []).extend(zip(d.tolist(), ids.tolist()))
    return sorted(
        (q, pid, np.float64(d).tobytes(), rank)
        for q, cand in by_id.items()
        for rank, (d, pid) in enumerate(sorted(cand)[:k], start=1)
    )


def _knn_got(df):
    return sorted(
        (r.query_id, r.pt_id, np.float64(r.dist_m).tobytes(), r.knn_rank)
        for r in df.select("query_id", "pt_id", "dist_m", "knn_rank").collect()
    )


def _queries_df(spark, queries):
    return spark.createDataFrame(
        [(q, bytearray(wkb.point(x, y))) for q, x, y in queries], "query_id int, qgeom binary"
    )


# duplicate ids (1 twice, at different places), a query on a tripled
# point location, one on the cell box corner, and an exact four-way
# distance tie at the 2nd/3rd place for 'degrees'
_QUERIES = [(0, 10.0, 50.0), (1, 3.0, 45.0), (1, 3.4, 45.2), (2, 20.0, 56.0), (3, CELL[0], CELL[1]),
            (4, 17.0, 41.0)]
_TIE = [(1000, 10.25, 50.0), (1001, 10.5, 50.0), (1002, 9.5, 50.0), (1003, 10.0, 50.5),
        (1004, 10.0, 49.5)]


@pytest.mark.parametrize("metric", ["degrees", "meters", "geodesic"])
@pytest.mark.parametrize("batch", [1, 2, None])
def test_knn_probe_matches_bruteforce(spark, metric, batch):
    pts = _point_rows(n=200) + _TIE
    want = _knn_brute(pts, _QUERIES, 3, metric)
    pdf, qdf = _points_df(spark, pts), _queries_df(spark, _QUERIES)
    kw = dict(k=3, res=RES, max_ring=1, metric=metric, tiebreak="pt_id")
    with _batch_rows(spark, batch):
        assert _knn_got(spatial_join.knn_join(pdf, qdf, lonlat_cols=("lon", "lat"), **kw)) == want
        if batch is None:
            # WKB points; exact=False at a ring that already certifies
            # the seed-ring answers
            assert _knn_got(spatial_join.knn_join(pdf.drop("lon", "lat"), qdf, **kw)) == want
            loose = spatial_join.knn_join(pdf, qdf, lonlat_cols=("lon", "lat"), exact=False,
                                          **{**kw, "max_ring": 4})
            assert _knn_got(loose) == want


def test_knn_probe_tie_at_kth_place_keeps_every_tied_candidate(spark):
    """Four points tie at the k-th distance: the pass keeps all of them
    and the window's tiebreak picks, in either tiebreak direction."""
    qs = [(0, 10.0, 50.0)]
    pdf, qdf = _points_df(spark, _TIE), _queries_df(spark, qs)
    kw = dict(k=3, res=RES, max_ring=1, metric="degrees", lonlat_cols=("lon", "lat"))
    got = _knn_got(spatial_join.knn_join(pdf, qdf, tiebreak="pt_id", **kw))
    assert got == _knn_brute(_TIE, qs, 3, "degrees")
    assert [r[1] for r in got] == [1000, 1001, 1002]
    rev = spatial_join.knn_join(pdf.withColumn("rk", -F.col("pt_id")), qdf, tiebreak="rk", **kw)
    assert [r.pt_id for r in rev.orderBy("knn_rank").collect()] == [1000, 1004, 1003]


@pytest.mark.parametrize("metric", ["degrees", "meters"])
def test_knn_probe_hot_cell_chunks(spark, monkeypatch, metric):
    """Every query on one point: each point's run of owners exceeds the
    patched 7-pair probe chunk, so candidates of one query span chunks
    and batches."""
    monkeypatch.setattr(spatial_join, "PROBE_CHUNK_PAIRS", 7)
    rng = np.random.default_rng(4)
    pts = [(i, float(x), float(y)) for i, (x, y) in
           enumerate(zip(rng.uniform(12.0, 13.0, 60), rng.uniform(49.0, 50.0, 60)))]
    qs = [(q, pts[0][1], pts[0][2]) for q in range(30)]
    with _batch_rows(spark, 2):
        got = spatial_join.knn_join(
            _points_df(spark, pts), _queries_df(spark, qs), k=4, res=RES, max_ring=1,
            metric=metric, tiebreak="pt_id", lonlat_cols=("lon", "lat"),
        )
        assert _knn_got(got) == _knn_brute(pts, qs, 4, metric)


def test_knn_shuffled_plan_matches_probe_bit_for_bit(spark):
    """broadcast_queries=False (the shuffled cell join every candidate
    reaches the window through) and the index probe agree on every
    metric, with WKB and lon/lat points."""
    pts = _point_rows(n=150) + _TIE
    pdf, qdf = _points_df(spark, pts), _queries_df(spark, _QUERIES)
    for metric in ("degrees", "meters", "geodesic"):
        for kw in (dict(lonlat_cols=("lon", "lat")), {}):
            p = pdf if kw else pdf.drop("lon", "lat")
            args = dict(k=3, res=RES, max_ring=1, metric=metric, tiebreak="pt_id", **kw)
            a = spatial_join.knn_join(p, qdf, **args)
            b = spatial_join.knn_join(p, qdf, broadcast_queries=False, **args)
            assert a.columns == b.columns
            assert _knn_got(a) == _knn_got(b) == _knn_brute(pts, _QUERIES, 3, metric)


def test_knn_probe_empty_sides(spark):
    pts = _point_rows(n=20)
    pdf, qdf = _points_df(spark, pts), _queries_df(spark, _QUERIES)
    none = F.lit(False)
    kw = dict(k=2, res=RES, lonlat_cols=("lon", "lat"), tiebreak="pt_id")
    for exact in (True, False):
        out = spatial_join.knn_join(pdf, qdf.filter(none), exact=exact, **kw)
        assert out.count() == 0
        assert out.columns == pdf.columns + qdf.columns + ["dist_m", "knn_rank"]
    assert spatial_join.knn_join(pdf.filter(none), qdf, exact=False, **kw).count() == 0


def test_knn_null_query_point_raises(spark):
    """A NULL query point raises ValueError naming the column, read from
    the collected query table: one job, for exact and best-effort calls."""
    pdf = _points_df(spark, _point_rows(n=20))
    qdf = spark.createDataFrame(
        [(0, bytearray(wkb.point(10.0, 50.0))), (1, None)], "query_id int, qgeom binary"
    )
    for exact in (True, False):
        def call():
            with pytest.raises(ValueError, match="qgeom"):
                spatial_join.knn_join(pdf, qdf, k=2, res=RES, exact=exact,
                                      lonlat_cols=("lon", "lat"))
        _, jobs = jobs_in_group(spark, f"knn-null-qgeom-{exact}", call)
        assert jobs <= 1, jobs


def test_meters_per_point_projection_matches_per_pair():
    """proj.fwd once per point then a gather per pair gives the same bits
    as proj.fwd over the per-pair array (what the pair-shipping plan
    computed), on 100k pairs."""
    rng = np.random.default_rng(5)
    lon, lat = rng.uniform(-30.0, 50.0, 5000), rng.uniform(25.0, 72.0, 5000)
    rows = rng.integers(0, len(lon), 100_000)
    x, y = proj.fwd(lon, lat)
    xp, yp = proj.fwd(lon[rows], lat[rows])
    assert x[rows].tobytes() == xp.tobytes()
    assert y[rows].tobytes() == yp.tobytes()
    # the query side: one projection per query, gathered per pair
    q = rng.integers(0, 7, 100_000)
    qx, qy = proj.fwd(lon[:7], lat[:7])
    qxp, qyp = proj.fwd(lon[:7][q], lat[:7][q])
    assert qx[q].tobytes() == qxp.tobytes() and qy[q].tobytes() == qyp.tobytes()
