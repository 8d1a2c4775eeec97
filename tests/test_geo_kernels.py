"""Golden-value parity tests for the numpy geometry kernel.

Golden numbers come from the reference's integration suite
(/root/reference/tests/integration/database/test_db_i.py:213-222), which
pins the PostGIS results for the ``fake_feature`` polygon
(/root/reference/tests/resources/fake_feature.py:1-2):
- centroid POINT (8.804454520157185 55.474220203855445)
- area_sqkm 1244037.118
"""

import numpy as np
import pytest

from pda_spark.geo import cells, kernels, proj, wkb

FAKE_FEATURE = np.array(
    [
        (1.07935e-10, 60.15824184521428),
        (20.023127886233997, 60.15824184521428),
        (15.564234739500566, 50.16996707220397),
        (8.3899e-11, 50.16996707220397),
        (1.07935e-10, 60.15824184521428),
    ]
)


@pytest.fixture
def fake_poly():
    return wkb.decode(wkb.polygon([FAKE_FEATURE]))


def test_proj_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-30, 60, 1000)
    lat = rng.uniform(25, 75, 1000)
    lo, la = proj.inv(*proj.fwd(lon, lat))
    np.testing.assert_allclose(lo, lon, atol=1e-9)
    np.testing.assert_allclose(la, lat, atol=1e-9)


def test_proj_known_point():
    # EPSG:3035 projection center maps to false easting/northing exactly
    x, y = proj.fwd(np.array([10.0]), np.array([52.0]))
    assert abs(x[0] - 4321000.0) < 1e-6
    assert abs(y[0] - 3210000.0) < 1e-6


def test_golden_centroid(fake_poly):
    # reference golden: test_db_i.py:218-222
    lon, lat = kernels.centroid_3035(fake_poly)
    assert lon == pytest.approx(8.804454520157185, abs=1e-12)
    assert lat == pytest.approx(55.474220203855445, abs=1e-12)


def test_golden_area(fake_poly):
    # reference golden: test_db_i.py:215 (area_sqkm rounded to 3)
    assert kernels.area_3035_sqkm(fake_poly) == 1244037.118


def test_wkb_roundtrip_polygon(fake_poly):
    assert fake_poly.gtype == wkb.POLYGON
    np.testing.assert_array_equal(fake_poly.parts[0], FAKE_FEATURE)


def test_wkb_point_vectorized():
    lon = np.array([13.399602764700546, -15.0452])
    lat = np.array([52.523764522251156, 23.0235])
    bufs = wkb.points_vec(lon, lat)
    lo, la = wkb.decode_points_vec(bufs)
    np.testing.assert_array_equal(lo, lon)
    np.testing.assert_array_equal(la, lat)
    g = wkb.decode(bufs[0])
    assert g.gtype == wkb.POINT


def test_wkb_multipolygon_roundtrip():
    r1 = np.array([[0.0, 0.0], [1, 0], [1, 1], [0, 1], [0, 0]])
    r2 = r1 + 5.0
    g = wkb.decode(wkb.multipolygon([[r1], [r2]]))
    assert g.gtype == wkb.MULTIPOLYGON
    assert kernels.area_planar(g) == pytest.approx(2.0)


def test_wkb_ewkb_srid_flag():
    import struct

    # EWKB point with SRID 4326 (PostGIS wire format)
    buf = struct.pack("<BIIdd", 1, 1 | 0x20000000, 4326, 10.0, 20.0)
    g = wkb.decode(buf)
    assert g.gtype == wkb.POINT
    assert g.parts[0][0].tolist() == [10.0, 20.0]


def test_point_in_polygon(fake_poly):
    pts = np.array(
        [
            [8.8, 55.47],  # centroid-ish: inside
            [-10.0, 55.0],  # west: outside
            [19.0, 59.0],  # inside near NE edge
            [19.0, 51.0],  # outside (SE, past the slanted edge)
        ]
    )
    got = kernels.points_in_polygons(pts, fake_poly.polygons())
    assert got.tolist() == [True, False, True, False]


def test_polygon_with_hole():
    outer = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    hole = np.array([[4.0, 4], [6, 4], [6, 6], [4, 6], [4, 4]])
    g = wkb.decode(wkb.polygon([outer, hole]))
    assert kernels.area_planar(g) == pytest.approx(96.0)
    got = kernels.points_in_polygons(np.array([[5.0, 5.0], [1.0, 1.0]]), g.polygons())
    assert got.tolist() == [False, True]


def test_polys_intersect(fake_poly):
    # overlapping box
    assert kernels.polys_intersect(fake_poly, wkb.decode(wkb.box(5, 52, 8, 58)))
    # disjoint box
    assert not kernels.polys_intersect(fake_poly, wkb.decode(wkb.box(-20, 0, -10, 10)))
    # box containing the polygon entirely
    assert kernels.polys_intersect(fake_poly, wkb.decode(wkb.box(-5, 45, 25, 65)))
    # polygon containing the box entirely
    assert kernels.polys_intersect(wkb.decode(wkb.box(-5, 45, 25, 65)), fake_poly)
    # edge-crossing without any vertex containment
    tall = wkb.decode(wkb.box(5, 40, 6, 70))
    assert kernels.polys_intersect(fake_poly, tall)


def test_buffer_point():
    b = kernels.buffer_point_3035(13.4, 52.5, 30_000.0)
    g = wkb.decode(b)
    # ~pi*30km^2 area, within polygon-approximation tolerance of a 32-gon
    area = kernels.area_3035_sqkm(g, ndigits=None)
    assert area == pytest.approx(np.pi * 30.0**2, rel=0.01)
    # center inside, 40 km away outside
    assert kernels.points_in_polygons(np.array([[13.4, 52.5]]), g.polygons())[0]
    far_lon = 13.4 + 40.0 / 67.0  # ~40km east at 52.5N
    assert not kernels.points_in_polygons(np.array([[far_lon, 52.5]]), g.polygons())[0]


def test_clip_convex_exact():
    subject = np.array([[0.0, 0], [4, 0], [4, 4], [0, 4], [0, 0]])
    clip = np.array([[2.0, 2], [6, 2], [6, 6], [2, 6], [2, 2]])
    ring = kernels.clip_convex(subject, clip)
    assert abs(kernels.ring_area_signed(ring)) == pytest.approx(4.0)


def test_cells_roundtrip():
    cid = cells.cell_of(np.array([13.4]), np.array([52.5]), 10)[0]
    minx, miny, maxx, maxy = (float(v[0]) for v in cells.cell_boxes([cid]))
    assert minx <= 13.4 <= maxx and miny <= 52.5 <= maxy
    assert cells.cell_res(np.array([cid]))[0] == 10


def test_cells_cover_and_parent():
    cover = cells.cover_bbox(0.0, 50.0, 20.0, 60.0, 6)
    assert len(cover) > 1
    p = cells.parent(cover, 3)
    assert (cells.cell_res(p) == 3).all()
    # every res-6 cell of a point has the point's res-3 cell as parent
    c6 = cells.cell_of(np.array([13.4]), np.array([52.5]), 6)
    c3 = cells.cell_of(np.array([13.4]), np.array([52.5]), 3)
    assert cells.parent(c6, 3)[0] == c3[0]


def test_cells_ring():
    cid = int(cells.cell_of(np.array([13.4]), np.array([52.5]), 10)[0])
    r1 = cells.ring(cid, 1)
    assert len(r1) == 9 and cid in r1.tolist()


def test_choose_res():
    assert cells.choose_res(360.0) <= 2
    assert cells.choose_res(0.001) >= 15
    assert 0 <= cells.choose_res(10.0) <= cells.MAX_RES


def test_is_axis_rect_and_refine_fallback(spark):
    """Rect fast path: detection is structural (axis-aligned 5-pt ring);
    slanted polygons must fall through to the full predicate — two
    slanted triangles with overlapping bboxes but no intersection would
    be a false positive if the bbox shortcut leaked."""
    import numpy as np
    from pyspark.sql import functions as F

    from pda_spark.functions import geo_udfs
    from pda_spark.geo import kernels, wkb

    rect = wkb.decode(wkb.box(0, 0, 2, 1))
    assert kernels.is_axis_rect(rect)
    tri = np.array([[0, 0], [4, 0], [0, 4], [0, 0]], float)
    assert not kernels.is_axis_rect(wkb.decode(wkb.polygon([tri])))
    diamond = np.array([[1, 0], [2, 1], [1, 2], [0, 1], [1, 0]], float)  # 5 pts, slanted
    assert not kernels.is_axis_rect(wkb.decode(wkb.polygon([diamond])))
    # degenerate axis-aligned 5-pt rings must NOT take the fast path
    # (ADVICE r2): HHVV backtracking zigzag with zero area ...
    zigzag = np.array([[0, 0], [2, 0], [0, 0], [0, 2], [0, 0]], float)
    assert not kernels.is_axis_rect(wkb.decode(wkb.polygon([zigzag])))
    # ... zero-length edge (repeated vertex) ...
    dup = np.array([[0, 0], [2, 0], [2, 0], [0, 1], [0, 0]], float)
    assert not kernels.is_axis_rect(wkb.decode(wkb.polygon([dup])))
    # ... and a ring whose closing edge is diagonal (not axis-aligned)
    diag_close = np.array([[0, 0], [1, 0], [2, 0], [2, 1], [0, 0]], float)
    assert not kernels.is_axis_rect(wkb.decode(wkb.polygon([diag_close])))

    # bbox-overlapping but disjoint slanted pair vs a genuinely hitting pair
    t1 = np.array([[0, 0], [10, 0], [0, 10], [0, 0]], float)
    t2 = np.array([[9.5, 9.5], [10, 9.5], [10, 10], [9.5, 9.5]], float)  # in t1's bbox corner
    df = spark.createDataFrame(
        [
            (1, bytearray(wkb.polygon([t1])), bytearray(wkb.polygon([t2]))),
            (2, bytearray(wkb.box(0, 0, 1, 1)), bytearray(wkb.box(0.5, 0.5, 2, 2))),
            (3, bytearray(wkb.box(0, 0, 1, 1)), bytearray(wkb.box(1.5, 0, 2, 1))),
        ],
        "i int, a binary, b binary",
    )
    got = {r["i"]: r["hit"] for r in df.select(
        "i", geo_udfs.intersects_pair(F.col("a"), F.col("b")).alias("hit")).collect()}
    assert got == {1: False, 2: True, 3: False}


def test_line_intersects_kernel():
    """LineString operands in polys_intersect (round-3: reference rivers,
    geojson_xyz.py:59-70 ingests river/lake centerlines as LineStrings)."""
    import struct

    box = wkb.decode(wkb.box(0, 0, 10, 10))
    hole_poly = wkb.decode(
        wkb.polygon(
            [
                np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float),
                np.array([[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]], float),
            ]
        )
    )
    ln = lambda pts: wkb.decode(wkb.linestring(np.array(pts, float)))

    # line x polygon
    assert kernels.polys_intersect(ln([[-5, 5], [15, 5]]), box)  # crosses
    assert kernels.polys_intersect(box, ln([[-5, 5], [15, 5]]))  # symmetric
    assert not kernels.polys_intersect(ln([[-5, 20], [15, 20]]), box)  # misses
    assert not kernels.polys_intersect(ln([[4, 4], [6, 6]]), hole_poly)  # in hole
    assert kernels.polys_intersect(ln([[1, 1], [2, 2]]), hole_poly)  # in interior
    assert kernels.polys_intersect(ln([[-5, 0], [15, 0]]), box)  # along boundary

    # line x line
    assert kernels.polys_intersect(ln([[0, 0], [10, 10]]), ln([[0, 10], [10, 0]]))
    assert not kernels.polys_intersect(ln([[0, 0], [10, 10]]), ln([[0, 1], [10, 11]]))
    # collinear: disjoint must be False (orientation products alone say True)
    assert not kernels.polys_intersect(ln([[0, 0], [1, 0]]), ln([[2, 0], [3, 0]]))
    assert kernels.polys_intersect(ln([[0, 0], [1, 0]]), ln([[0.5, 0], [3, 0]]))
    # shared endpoint counts as touching
    assert kernels.polys_intersect(ln([[0, 0], [1, 0]]), ln([[1, 0], [1, 5]]))

    # point x line
    pt = wkb.decode(wkb.point(5.0, 5.0))
    assert kernels.polys_intersect(pt, ln([[-5, 5], [15, 5]]))
    assert not kernels.polys_intersect(wkb.decode(wkb.point(5.0, 6.0)), ln([[-5, 5], [15, 5]]))

    # point on polygon boundary counts (round-3: boundary-exact pt x pg)
    assert kernels.polys_intersect(wkb.decode(wkb.point(0.0, 5.0)), box)

    # multilinestring: second part hits
    mls = struct.pack("<BII", 1, wkb.MULTILINESTRING, 2) + wkb.linestring(
        np.array([[0, 20], [1, 20]], float)
    ) + wkb.linestring(np.array([[-5, 5], [15, 5]], float))
    g = wkb.decode(mls)
    assert g.gtype == wkb.MULTILINESTRING and len(g.lines()) == 2
    assert kernels.polys_intersect(g, box)


def test_polys_intersect_batch_parity_random():
    """Batched staged refine decides exactly like the scalar kernel on
    irregular (non-rect) polygons, dense and sparse, plus lineal
    fallback operands."""
    import numpy as np

    from pda_spark.geo import kernels, wkb

    rng = np.random.default_rng(123)

    def rand_poly(cx, cy, r, nv):
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = r * rng.uniform(0.4, 1.0, nv)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        return wkb.decode(wkb.polygon([np.vstack([ring, ring[:1]])]))

    ga = [rand_poly(rng.uniform(0, 3), rng.uniform(0, 3), 0.7, int(rng.integers(5, 12))) for _ in range(120)]
    gb = [rand_poly(rng.uniform(0, 3), rng.uniform(0, 3), 0.7, int(rng.integers(5, 12))) for _ in range(120)]
    gl = [
        wkb.decode(wkb.linestring(rng.uniform(0, 3, (3, 2))))
        for _ in range(30)
    ]
    mixed = ga[:90] + gl
    ia = rng.integers(0, 120, 3000).astype(np.int64)
    ib = rng.integers(0, 120, 3000).astype(np.int64)
    batch = kernels.polys_intersect_batch(mixed, gb, ia, ib)
    scalar = np.array([kernels.polys_intersect(mixed[i], gb[j]) for i, j in zip(ia, ib)])
    assert (batch == scalar).all()
    assert 0 < batch.sum() < len(ia)  # non-trivial on both sides


def test_dp_simplify_properties():
    import numpy as np

    from pda_spark.geo import kernels, wkb

    rng = np.random.default_rng(5)
    # property: every dropped vertex is within tol of the simplified chain
    for _ in range(20):
        n = int(rng.integers(5, 40))
        pts = np.cumsum(rng.normal(0, 1, (n, 2)), axis=0)
        tol = float(rng.uniform(0.05, 2.0))
        out = kernels.dp_simplify(pts, tol)
        assert (out[0] == pts[0]).all() and (out[-1] == pts[-1]).all()
        # distance of each original point to the simplified polyline
        def dist_to_chain(p):
            best = np.inf
            for a, b in zip(out[:-1], out[1:]):
                seg = b - a
                l2 = seg @ seg
                t = 0.0 if l2 == 0 else float(np.clip((p - a) @ seg / l2, 0, 1))
                best = min(best, float(np.linalg.norm(p - (a + t * seg))))
            return best
        assert max(dist_to_chain(p) for p in pts) <= tol + 1e-12

    # ring-collapse guard: a ring that would drop below 4 points stays
    tri = np.array([[0.0, 0], [1, 0], [0.5, 0.1], [0, 0]])
    g = wkb.decode(wkb.polygon([tri]))
    s = kernels.simplify_geom(g, 10.0)
    assert s.polygons()[0][0].shape[0] == 4  # unchanged


def test_buffer_polys_square_golden():
    """Minkowski offset of a rectangle: closed form w*h + 2d(w+h) +
    A32*d^2 with A32 = 16*sin(pi/16) (quarter 32-gon fans at the
    corners align with quadrant boundaries)."""
    sq = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    d = 1.0
    a32 = 0.5 * 32 * np.sin(2 * np.pi / 32)
    out = kernels.buffer_polys([[sq]], d)
    assert abs(kernels.polygons_area(out) - (100 + 40 * d + a32 * d * d)) < 1e-9


def test_buffer_polys_hole_semantics():
    sq = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    hole = np.array([[3.0, 3], [7, 3], [7, 7], [3, 7], [3, 3]])
    d = 1.0
    a32 = 0.5 * 32 * np.sin(2 * np.pi / 32)
    # convex hole erodes with SHARP corners: 4x4 -> exactly 2x2
    out = kernels.buffer_polys([[sq, hole]], d)
    assert abs(kernels.polygons_area(out) - (100 + 40 + a32 - 4.0)) < 1e-9
    # hole narrower than 2d disappears entirely
    small = np.array([[4.5, 4.5], [5.5, 4.5], [5.5, 5.5], [4.5, 5.5], [4.5, 4.5]])
    out2 = kernels.buffer_polys([[sq, small]], d)
    assert len(out2) == 1 and len(out2[0]) == 1
    assert abs(kernels.polygons_area(out2) - (100 + 40 + a32)) < 1e-9
    # zero-distance buffer is the identity region
    out0 = kernels.buffer_polys([[sq, hole]], 0.0)
    assert abs(kernels.polygons_area(out0) - 84.0) < 1e-9
    with pytest.raises(ValueError):
        kernels.buffer_polys([[sq]], -1.0)


def test_buffer_lines_capsule():
    ln = np.array([[0.0, 0], [10, 0]])
    a32 = 0.5 * 32 * np.sin(2 * np.pi / 32)
    out = kernels.buffer_lines([ln], 1.0)
    assert abs(kernels.polygons_area(out) - (20 + a32)) < 1e-9
    # right-angle polyline: rects overlap at the elbow, union handles it
    bent = np.array([[0.0, 0], [10, 0], [10, 10]])
    out2 = kernels.buffer_lines([bent], 1.0)
    # area < 2*capsule (the elbow overlap is merged, not double-counted)
    assert kernels.polygons_area(out2) < 2 * (20 + a32)
    assert kernels.polygons_area(out2) > 38.0


def test_buffer_geom_3035_point_matches_point_kernel():
    g = wkb.decode(wkb.point(8.8, 55.47))
    assert kernels.buffer_geom_3035(g, 30000.0) == kernels.buffer_point_3035(
        8.8, 55.47, 30000.0
    )


def test_buffer_geom_3035_polygon_rim(fake_poly):
    """1 m cleanup rim (reference app/query.py:158): buffered area
    exceeds the original by perimeter*1m + pi*1m^2 — a relative check
    since the projection bends the rim slightly."""
    g = wkb.decode(fake_poly) if isinstance(fake_poly, (bytes, bytearray)) else fake_poly
    a0 = kernels.area_3035_sqkm(g, ndigits=None)
    buffered = wkb.decode(kernels.buffer_geom_3035(g, 1.0))
    a1 = kernels.area_3035_sqkm(buffered, ndigits=None)
    assert a1 > a0
    # the 1 m rim on a ~1.2M km^2 polygon is tiny: < 0.01% growth
    assert (a1 - a0) / a0 < 1e-4


def test_erosion_area():
    sq = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    # convex erosion is exact: (10-2)^2
    assert abs(kernels.erosion_area([[sq]], 1.0) - 64.0) < 1e-9
    # erosion by more than the inradius empties the polygon
    assert abs(kernels.erosion_area([[sq]], 5.0)) < 1e-9
    assert abs(kernels.erosion_area([[sq]], 7.0)) < 1e-9
    # hole GROWS under erosion: outer 10x10 shrink to 8x8, hole 2x2
    # grows to 4x4 with rounded (convex-outward) corners
    hole = np.array([[4.0, 4], [6, 4], [6, 6], [4, 6], [4, 4]])
    a = kernels.erosion_area([[sq, hole]], 1.0)
    a32 = 0.5 * 32 * np.sin(2 * np.pi / 32)
    # grown hole = 2x2 + 4 edge-rects (2x1) + four quarter 32-gon fans
    assert abs(a - (64.0 - (4.0 + 8.0 + a32))) < 1e-9
    # zero distance = identity
    assert abs(kernels.erosion_area([[sq, hole]], 0.0) - 96.0) < 1e-9


def test_convex_hull_monotone_chain():
    # square + interior + collinear edge midpoint: hull is the 4 corners
    pts = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10],
                    [5, 5], [2, 3], [5, 0], [0, 5]])
    ring = kernels.convex_hull(pts)
    assert len(ring) == 5 and np.all(ring[0] == ring[-1])
    assert abs(kernels.ring_area_signed(ring) - 100.0) < 1e-12  # CCW positive
    corners = {(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)}
    assert {tuple(p) for p in ring[:-1]} == corners
    # duplicates collapse; degenerate cases return what exists
    assert len(kernels.convex_hull(np.array([[1.0, 1], [1, 1]]))) == 2
    two = kernels.convex_hull(np.array([[0.0, 0], [3, 4]]))
    assert len(two) == 3


def test_buffer_convex_direct_matches_union_path():
    """The O(V) direct convex offset must agree with the generic capsule
    union (forced by duplicating the polygon, which disables the
    single-convex fast path) — rotated pentagon, non-grid normals."""
    ang = np.linspace(0.3, 0.3 + 2 * np.pi, 5, endpoint=False)
    pent = np.column_stack([3 * np.cos(ang) + 5, 2.4 * np.sin(ang) - 1])
    pent = np.vstack([pent, pent[:1]])
    d = 0.7
    direct = kernels.buffer_polys([[pent]], d)
    union = kernels.buffer_polys([[pent], [pent]], d)  # same region, slow path
    a_direct = kernels.polygons_area(direct)
    a_union = kernels.polygons_area(union)
    # arc endpoints differ (exact normals vs grid crossings) by O(step^2)
    # sagitta slivers; areas agree to the discretization tolerance
    assert abs(a_direct - a_union) / a_union < 1e-3
    assert a_direct > kernels.polygons_area([[pent]])
    # both contain the original polygon's vertices strictly
    assert kernels.points_in_polygons(pent[:-1], direct).all()


def test_buffer_convex_direct_collinear_vertex():
    """Round-5 review regression: a redundant collinear vertex must add
    NO arc (the wraparound bug spliced a full 2*pi circle there,
    inflating the area by ~pi*d^2)."""
    rect = np.array([[0.0, 0], [1, 0], [2, 0], [2, 1], [0, 1], [0, 0]])
    d = 0.35
    a32 = 0.5 * 32 * np.sin(2 * np.pi / 32)
    got = kernels.polygons_area(kernels.buffer_polys([[rect]], d))
    want = 2.0 + 2 * d * 3.0 + a32 * d * d
    assert abs(got - want) < 1e-9


def test_polys_contains_semantics():
    sq = lambda x0, y0, x1, y1: np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
    )
    A = wkb.decode(wkb.polygon([sq(0, 0, 10, 10)]))
    inner = wkb.decode(wkb.polygon([sq(2, 2, 4, 4)]))
    overlapping = wkb.decode(wkb.polygon([sq(8, 8, 12, 12)]))
    outside = wkb.decode(wkb.polygon([sq(20, 20, 22, 22)]))
    assert kernels.polys_contains(A, inner)
    assert not kernels.polys_contains(A, overlapping)
    assert not kernels.polys_contains(A, outside)
    assert not kernels.polys_contains(inner, A)
    # holes: B inside A's hole -> not contained; B overlapping the hole
    # boundary -> not contained; B swallowing the hole whole -> not
    # contained (zero crossings, the dedicated hole-vertex test)
    holed = wkb.decode(wkb.polygon([sq(0, 0, 10, 10), sq(4, 4, 6, 6)]))
    in_hole = wkb.decode(wkb.polygon([sq(4.5, 4.5, 5.5, 5.5)]))
    across_hole = wkb.decode(wkb.polygon([sq(3, 3, 5, 5)]))
    swallows_hole = wkb.decode(wkb.polygon([sq(3, 3, 7, 7)]))
    beside_hole = wkb.decode(wkb.polygon([sq(1, 1, 3, 3)]))
    assert not kernels.polys_contains(holed, in_hole)
    assert not kernels.polys_contains(holed, across_hole)
    assert not kernels.polys_contains(holed, swallows_hole)
    assert kernels.polys_contains(holed, beside_hole)


# ------------------------------------------------ tight cover vs reference


def _cell_box_reference(cid: int) -> tuple[float, float, float, float]:
    """One cell's rectangle by scalar arithmetic (the per-cell form)."""
    res = int(cells.cell_res(np.asarray(cid)))
    ix, iy = cells.cell_ixy(np.asarray(cid))
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    minx = -180.0 + float(ix) * w
    miny = -90.0 + float(iy) * h
    return minx, miny, minx + w, miny + h


def _cover_reference(g: wkb.Geom, res: int) -> list[int]:
    """The per-cell tight cover: the scalar ``polys_intersect`` of the
    geometry against each bbox cell's WKB box (a bbox cover of at most 4
    cells is kept whole)."""
    cover = cells.cover_bbox(*kernels.bbox(g), res)
    if len(cover) <= 4:
        return [int(c) for c in cover]
    return [
        int(c) for c in cover
        if kernels.polys_intersect(g, wkb.decode(wkb.box(*_cell_box_reference(int(c)))))
    ]


def _star(rng, cx, cy, radius, n, r_lo=0.6, r_hi=1.0):
    """Closed star-shaped ring (the benchmark's land-cover shape)."""
    ang = 2 * np.pi * (np.arange(n) + rng.uniform(0, 0.8, n)) / n
    r = radius * rng.uniform(r_lo, r_hi, n)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _cover_shapes(res: int, seed: int) -> list[wkb.Geom]:
    """Shapes a few cells across at ``res``: holed land cover, rotated
    footprints, multipolygons, (multi)linestrings, multipoints, and
    polygons and boxes whose vertices and edges lie on cell boundaries."""
    rng = np.random.default_rng([seed, res])
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    x_lo, x_hi = max(-170.0, -180.0 + 6 * w), min(170.0, 180.0 - 6 * w)
    y_lo, y_hi = max(-80.0, -90.0 + 6 * h), min(80.0, 90.0 - 6 * h)
    out = []
    for _ in range(12):
        cx, cy = rng.uniform(x_lo, x_hi), rng.uniform(y_lo, y_hi)
        rad = h * rng.uniform(0.5, 4.0)
        rings = [_star(rng, cx, cy, rad, int(rng.integers(12, 49)))]
        if rng.random() < 0.5:
            rings.append(_star(rng, cx, cy, rad, 8, 0.15, 0.3)[::-1])
        out.append(wkb.Geom(wkb.POLYGON, rings))
        # rotated footprint quad
        half, th = h * rng.uniform(0.5, 3.0), rng.uniform(0.1, np.pi / 2 - 0.1)
        c, s = np.cos(th), np.sin(th)
        local = np.array([[-1, -1], [1, -1], [1, 1], [-1, 1], [-1, -1]]) * [half, 0.7 * half]
        quad = np.column_stack([cx + local[:, 0] * c - local[:, 1] * s,
                                cy + local[:, 0] * s + local[:, 1] * c])
        out.append(wkb.Geom(wkb.POLYGON, [quad]))
        # two-part multipolygon, open polyline, two-part multilinestring, multipoint
        far = _star(rng, cx + 3 * w, cy - 2 * h, 0.8 * h, 7)
        out.append(wkb.Geom(wkb.MULTIPOLYGON, [rings, [far]]))
        line = _star(rng, cx, cy, rad, 9)[:-1]
        out.append(wkb.Geom(wkb.LINESTRING, [line]))
        out.append(wkb.Geom(wkb.MULTILINESTRING, [[line[:4]], [line[5:] + [w, 0.0]]]))
        pts = np.column_stack([cx + rng.uniform(-3, 3, 6) * w, cy + rng.uniform(-3, 3, 6) * h])
        out.append(wkb.Geom(wkb.MULTIPOINT, [[p[None, :]] for p in pts]))
        # on the cell grid: a box of whole cells, a diamond and a triangle
        # with grid-corner vertices, and a multipoint on cell corners
        ix0 = int(np.floor((cx + 180.0) / w))
        iy0 = int(np.floor((cy + 90.0) / h))
        gx = lambda k: -180.0 + (ix0 + k) * w  # noqa: E731
        gy = lambda k: -90.0 + (iy0 + k) * h  # noqa: E731
        kx, ky = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        out.append(wkb.decode(wkb.box(gx(0), gy(0), gx(kx + 1), gy(ky + 1))))
        diamond = np.array([[gx(2), gy(0)], [gx(4), gy(2)], [gx(2), gy(4)], [gx(0), gy(2)], [gx(2), gy(0)]])
        out.append(wkb.Geom(wkb.POLYGON, [diamond]))
        tri = np.array([[gx(0), gy(0)], [gx(3), gy(0)], [gx(0), gy(3)], [gx(0), gy(0)]])
        out.append(wkb.Geom(wkb.POLYGON, [tri]))
        grid = [[np.array([[gx(i), gy(j)]])] for i, j in ((0, 0), (3, 1), (1, 3))]
        out.append(wkb.Geom(wkb.MULTIPOINT, grid))
    return out


@pytest.mark.parametrize("res", [4, 6, 9, 10, 12])
def test_tight_cover_matches_per_cell_reference(res):
    """The one-pass tight cover keeps exactly the cells (in the same
    order) that the per-cell scalar ``polys_intersect`` loop keeps."""
    from pda_spark.functions.geo_udfs import _geom_cover

    shapes = _cover_shapes(res, seed=11)
    tested = 0
    for g in shapes:
        want = _cover_reference(g, res)
        assert _geom_cover(g, res) == want, (res, g.gtype)
        tested += len(cells.cover_bbox(*kernels.bbox(g), res)) > 4
    assert tested > len(shapes) // 2  # most shapes take the exact test


def test_cell_boxes_match_scalar_arithmetic():
    rng = np.random.default_rng(3)
    for res in (0, 4, 12, 28):
        n = 1 << res
        cid = cells.cell_id(res, rng.integers(0, n, 50), rng.integers(0, n, 50))
        got = np.column_stack(cells.cell_boxes(cid))
        want = np.array([_cell_box_reference(int(c)) for c in cid])
        assert got.tobytes() == want.tobytes(), res


def test_tight_cover_across_box_chunks(monkeypatch):
    """A polygon whose bbox cells span several box chunks gives the same
    cover as in one chunk, and as the per-cell reference."""
    from pda_spark.functions.geo_udfs import _geom_cover

    rng = np.random.default_rng(7)
    ring = _star(rng, 10.0, 50.0, 0.5, 40)
    hole = _star(rng, 10.0, 50.0, 0.5, 8, 0.15, 0.3)[::-1]
    g = wkb.Geom(wkb.POLYGON, [ring, hole])
    whole = _geom_cover(g, 11)
    monkeypatch.setattr(kernels, "BOX_CHUNK_ELEMS", 4 * 48 * 3)  # 3 boxes per chunk
    assert len(cells.cover_bbox(*kernels.bbox(g), 11)) > 10 * 3
    assert _geom_cover(g, 11) == whole == _cover_reference(g, 11)


def test_tight_cover_large_polygon_bounded_memory():
    """A 10k-vertex polygon at res 12 is tested in chunks: the peak of
    traced allocations stays far below one unchunked (box x edge) array."""
    import tracemalloc

    from pda_spark.functions.geo_udfs import _geom_cover

    rng = np.random.default_rng(5)
    g = wkb.Geom(wkb.POLYGON, [_star(rng, 10.0, 50.0, 1.2, 10_000)])
    n_cells = len(cells.cover_bbox(*kernels.bbox(g), 12))
    tracemalloc.start()
    try:
        cover = _geom_cover(g, 12)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    unchunked = n_cells * 10_000 * 4 * 8  # one float64 (box, edge, box edge) array
    assert peak < 160 * 2**20 < unchunked / 2, (peak, unchunked)
    assert 0 < len(cover) < n_cells
