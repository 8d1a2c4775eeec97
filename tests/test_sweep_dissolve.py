"""Scanline kernel (geo.sweep) + non-convex/holed dissolve & coverage.

Covers the round-1 gaps: non-convex operands, polygons with holes, true
dissolved geometry output, >max_exact overlapping rings (the legacy
inclusion–exclusion cap), and driver-collect-free coverage."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pda_spark.geo import kernels, sweep, wkb
from pda_spark.operators import dissolve, tiling


def sq(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


L_SHAPE = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2], [0, 0]], float)
U_SHAPE = np.array(
    [[0, 0], [3, 0], [3, 2], [2, 2], [2, 0.5], [1, 0.5], [1, 2], [0, 2], [0, 0]], float
)


def union_area_convex(rings: list[np.ndarray], max_exact: int = 22) -> float:
    """Exact union area of CONVEX rings via inclusion–exclusion: the
    independent oracle the scanline kernel is checked against
    (exponential in overlap count and convex-only, so test-scale only)."""
    n = len(rings)
    if n == 0:
        return 0.0
    if n > max_exact:
        raise ValueError(f"{n} rings > max_exact={max_exact}: use geo.sweep.union_area")
    for r in rings:
        if not kernels.is_convex(r):
            raise ValueError("union_area_convex: non-convex ring (use geo.sweep.union_area)")
    total = 0.0

    def rec(start: int, current: np.ndarray, depth: int):
        nonlocal total
        total += ((-1) ** depth) * abs(kernels.ring_area_signed(current))
        for i in range(start, n):
            clipped = kernels.clip_convex(current, rings[i])
            if len(clipped):
                rec(i + 1, clipped, depth + 1)

    for i in range(n):
        rec(i + 1, wkb.close_ring(rings[i]), 0)
    return total


def union_area_slab_loop(polys: list[list[np.ndarray]]) -> float:
    """Union area by the per-slab loop: ``_layer_union_intervals`` at each
    slab's mid-line, ``np.sum`` of its interval lengths times the slab
    height, added slab by slab — the reference the batched
    ``sweep.union_area`` must equal bit for bit."""
    edges = sweep._edges_of_layer(polys)
    if len(edges[0]) == 0:
        return 0.0
    bps = sweep._slabs([edges])
    total = 0.0
    for i in range(len(bps) - 1):
        h = bps[i + 1] - bps[i]
        if h <= 0.0:
            continue
        ym = 0.5 * (bps[i] + bps[i + 1])
        s, e, _, _ = sweep._layer_union_intervals(edges, ym)
        if len(s):
            total += float(np.sum(e - s)) * h
    return total


def _same_bits(polys) -> float:
    want = union_area_slab_loop(polys)
    got = sweep.union_area(polys)
    assert np.float64(got).tobytes() == np.float64(want).tobytes(), (got, want)
    return got


def _land_cover(seed: int, n: int, span: float = 2.0):
    """(class, polygon) pairs in the benchmark's land-cover style: star
    rings of 12-48 vertices, radii log-spread, a quarter with a hole,
    packed into a ``span``-degree square so they overlap."""
    rng = np.random.default_rng(seed)
    radius = rng.permutation(np.exp(np.linspace(np.log(0.05), np.log(0.6), n)))
    out = []
    for i in range(n):
        cx, cy = rng.uniform(10.0, 10.0 + span), rng.uniform(50.0, 50.0 + span)

        def star(rad, k, lo, hi):
            ang = 2 * np.pi * (np.arange(k) + rng.uniform(0, 0.8, k)) / k
            r = rad * rng.uniform(lo, hi, k)
            ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
            return np.vstack([ring, ring[:1]])

        rings = [star(radius[i], int(rng.integers(12, 49)), 0.6, 1.0)]
        if i % 4 == 0:
            rings.append(star(radius[i], 8, 0.15, 0.3)[::-1])
        out.append((i % 3, rings))
    return out


# ------------------------------------------------------------ pure kernel


def test_sweep_union_known_shapes():
    assert sweep.union_area([[sq(0, 0, 1, 1)], [sq(0.5, 0.5, 1.5, 1.5)]]) == pytest.approx(1.75)
    assert sweep.union_area([[sq(0, 0, 1, 1)], [sq(2, 0, 3, 1)]]) == pytest.approx(2.0)
    assert sweep.union_area([[L_SHAPE]]) == pytest.approx(3.0)
    # polygon with hole: 16 - 4; plus a plug filling part of the hole
    outer, hole = sq(0, 0, 4, 4), sq(1, 1, 3, 3)
    assert sweep.union_area([[outer, hole]]) == pytest.approx(12.0)
    assert sweep.union_area([[outer, hole], [sq(1.5, 1.5, 2.5, 2.5)]]) == pytest.approx(13.0)


def test_sweep_matches_inclusion_exclusion_on_convex():
    rng = np.random.default_rng(3)
    for _ in range(5):
        rings = []
        for _ in range(8):
            cx, cy = rng.uniform(0, 5, 2)
            r = rng.uniform(0.3, 1.5)
            th = np.sort(rng.uniform(0, 2 * np.pi, 12))
            rings.append(np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)]))
        exact = union_area_convex([wkb.close_ring(r) for r in rings])
        got = sweep.union_area([[r] for r in rings])
        assert got == pytest.approx(exact, rel=1e-12)


def test_sweep_intersect_union():
    assert sweep.intersect_union_area([[U_SHAPE]], [[sq(-1, 1, 4, 2)]]) == pytest.approx(2.0)
    outer, hole = sq(0, 0, 4, 4), sq(1, 1, 3, 3)
    # hole excluded from the intersection
    assert sweep.intersect_union_area([[outer, hole]], [[sq(0, 0, 2, 2)]]) == pytest.approx(3.0)
    assert sweep.intersect_union_area(
        [[outer, hole]], [[sq(1.5, 1.5, 2.5, 2.5)]]
    ) == pytest.approx(0.0)


def test_sweep_union_geometry_partitions_union():
    polys = [[L_SHAPE], [sq(0.5, 0.5, 1.5, 1.5)], [sq(2.5, 0, 3.5, 1)]]
    area, quads = sweep.union_geometry(polys)
    assert area == pytest.approx(3.25 + 1.0)
    # parts are non-overlapping and cover exactly the union
    assert sum(abs(kernels.ring_area_signed(q)) for q in quads) == pytest.approx(area, rel=1e-12)
    pts = np.array(
        [[x, y] for x in np.linspace(-0.3, 3.8, 30) for y in np.linspace(-0.3, 2.3, 24)]
    )
    src = np.zeros(len(pts), dtype=bool)
    for p in polys:
        src |= kernels.points_in_polygons(pts, [p])
    dis = kernels.points_in_polygons(pts, [[q] for q in quads])
    assert (src == dis).all()


def test_sweep_many_overlapping_rings_polynomial():
    """>22 overlapping rings: the inclusion–exclusion oracle raises;
    the sweep kernel must give the exact answer cheaply. 40 concentric
    shifted squares whose union is computable in closed form."""
    rings = [sq(i * 0.1, 0, i * 0.1 + 1.0, 1.0) for i in range(40)]
    with pytest.raises(ValueError):
        union_area_convex([wkb.close_ring(r) for r in rings])
    # union = bounding box [0, 4.9] x [0, 1]
    assert sweep.union_area([[r] for r in rings]) == pytest.approx(4.9)


# ------------------------------------------------------- Spark operators


@pytest.fixture(scope="module")
def holed_world(spark):
    """Two featureclasses of non-convex / holed polygons + image boxes."""
    outer, hole = sq(0, 0, 4, 4), sq(1, 1, 3, 3)
    lc_rows = [
        ("urban", bytearray(wkb.polygon([outer, hole]))),
        ("urban", bytearray(wkb.polygon([L_SHAPE + np.array([5.0, 0.0])]))),
        ("water", bytearray(wkb.polygon([U_SHAPE + np.array([0.0, 5.0])]))),
    ]
    img_rows = [
        (1, bytearray(wkb.polygon([sq(0, 0, 2, 2)]))),       # hits urban ring part
        (2, bytearray(wkb.polygon([sq(5.2, 0.2, 6.2, 1.2)]))),  # hits the L
        (3, bytearray(wkb.polygon([sq(-1, 5.8, 4, 7.2)]))),  # hits the U arms
    ]
    lc = spark.createDataFrame(lc_rows, "featureclass string, geom binary")
    img = spark.createDataFrame(img_rows, "id int, geom binary")
    return lc, img


EXPECT_URBAN_AREA = 12.0 + 3.0          # holed square + L
EXPECT_WATER_AREA = 4.5                 # U


def test_dissolve_nonconvex_holes(spark, holed_world):
    lc, _ = holed_world
    rows = {r["featureclass"]: r for r in dissolve.dissolve(lc).collect()}
    assert rows["urban"]["union_area"] == pytest.approx(EXPECT_URBAN_AREA, rel=1e-12)
    assert rows["water"]["union_area"] == pytest.approx(EXPECT_WATER_AREA, rel=1e-12)
    # dissolved geometry covers exactly the union (PIP parity, hole stays open)
    g = wkb.decode(bytes(rows["urban"]["geom"]))
    assert kernels.area_planar(g) == pytest.approx(EXPECT_URBAN_AREA, rel=1e-12)
    pts = np.array([[2.0, 2.0], [0.5, 0.5], [6.0, 0.5], [5.5, 1.5], [2.0, 4.5]])
    got = kernels.points_in_polygons(pts, g.polygons())
    assert list(got) == [False, True, True, True, False]  # hole center excluded


def test_dissolve_cell_routed_matches(spark, holed_world, monkeypatch):
    """The planar-grid route (forced by a zero routing threshold) gives
    the single-task route's exact area and geometry on non-convex,
    holed polygons."""
    lc, _ = holed_world
    exact = {r["featureclass"]: r["union_area"] for r in dissolve.dissolve(lc).collect()}
    monkeypatch.setattr(dissolve, "AUTO_ROUTE_PIECES", 0)
    out = dissolve.dissolve(lc)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 2, "not grid-routed"
    gridr = out.collect()
    got = {r["featureclass"]: r["union_area"] for r in gridr}
    assert got.keys() == exact.keys()
    for k in exact:
        assert got[k] == pytest.approx(exact[k], rel=1e-9), k
    # grid-routed geometry also partitions the union exactly
    for r in gridr:
        g = wkb.decode(bytes(r["geom"]))
        assert kernels.area_planar(g) == pytest.approx(exact[r["featureclass"]], rel=1e-9)


def test_dissolve_auto_routes_hot_key(spark, monkeypatch):
    """Round-3 auto-routing: a hot key above the piece threshold must be
    dissolved via the grid-partitioned path (no single straggler task),
    with EXACT area parity against a numpy 1D interval-union oracle
    (boxes share one y-band, so union area = interval union x height)."""
    n = 6000
    i = np.arange(n)
    x0 = (i * 13 % 1000).astype(float)
    x1 = x0 + (i % 40) + 1.0
    rows = [("hot", bytearray(wkb.box(a, 0.0, b, 1.0))) for a, b in zip(x0, x1)]
    rows += [("cold", bytearray(wkb.box(float(j), 0.0, float(j) + 0.5, 1.0))) for j in range(10)]
    df = spark.createDataFrame(rows, "featureclass string, geom binary")

    # numpy oracle: 1D interval union of the hot key
    order = np.lexsort((x1, x0))
    area = 0.0
    cur0, cur1 = None, None
    for a, b in zip(x0[order], x1[order]):
        if cur0 is None or a > cur1:
            if cur0 is not None:
                area += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    area += cur1 - cur0

    monkeypatch.setattr(dissolve, "AUTO_ROUTE_PIECES", 1000)
    out = dissolve.dissolve(df)
    # the auto decision must have picked the grid path: two grouped
    # pandas stages (per-tile union + per-key merge) instead of one
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 2, "hot key was not grid-routed"
    got = {r["featureclass"]: r["union_area"] for r in out.collect()}
    assert got["hot"] == pytest.approx(area, rel=1e-12)
    assert got["cold"] == pytest.approx(5.0, rel=1e-12)

    # below the threshold the same input stays on the one-task path
    monkeypatch.setattr(dissolve, "AUTO_ROUTE_PIECES", 100_000)
    plan2 = dissolve.dissolve(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan2.count("FlatMapGroupsInPandas") == 1


def test_union_area_by_cells_handles_holes(spark, holed_world):
    lc, _ = holed_world
    got = {r["key"]: r["union_area"] for r in tiling.union_area_by_cells(lc, res=6).collect()}
    assert got["urban"] == pytest.approx(EXPECT_URBAN_AREA, rel=1e-9)
    assert got["water"] == pytest.approx(EXPECT_WATER_AREA, rel=1e-9)


def test_coverage_nonconvex_no_driver_collect(spark, holed_world):
    lc, img = holed_world
    rows = {r["featureclass"]: r for r in dissolve.coverage(lc, img, res=4).collect()}
    # urban: img1 ∩ (holed sq) = 2x2 - 1x1 = 3 ; img2 ∩ L' = 0.8x1... compute:
    # L' = L+(5,0): img2 = sq(5.2,0.2,6.2,1.2) ∩ L' -> area:
    # L' covers [5,7]x[0,1] plus [5,6]x[1,2]; img2 ∩ [5.2,6.2]x[0.2,1] = 0.8
    # plus [5.2,6]x[1,1.2] = 0.16 -> 0.96
    num_urban = 3.0 + 0.96
    assert rows["urban"]["coverage_percentage"] == pytest.approx(
        round(100.0 * num_urban / EXPECT_URBAN_AREA, 3)
    )
    # water: U'=U+(0,5); img3 = sq(-1,5.8,4,7.2) covers U's arms above y=5.8:
    # arms [0,1]x[5.8,7] and [2,3]x[5.8,7] -> 2*1.2 = 2.4
    assert rows["water"]["coverage_percentage"] == pytest.approx(
        round(100.0 * 2.4 / EXPECT_WATER_AREA, 3)
    )
    # intersection geometry partitions the numerator
    g = wkb.decode(bytes(rows["urban"]["geom"]))
    assert kernels.area_planar(g) == pytest.approx(num_urban, rel=1e-9)


def test_coverage_res_invariant(spark, holed_world):
    lc, img = holed_world
    a = {r["featureclass"]: r["coverage_percentage"] for r in dissolve.coverage(lc, img, res=3).collect()}
    b = {r["featureclass"]: r["coverage_percentage"] for r in dissolve.coverage(lc, img, res=7).collect()}
    assert a == b


def test_coverage_no_matching_images_empty(spark, holed_world):
    lc, img = holed_world
    far = img.withColumn("geom", F.lit(bytearray(wkb.polygon([sq(50, 50, 51, 51)]))))
    assert dissolve.coverage(lc, far, res=4).count() == 0


def test_merged_boundary_shapes():
    """Round-3: merged-boundary output (PostGIS ST_UNION shape) — ring
    and vertex counts are minimal, area is shoelace-exact, holes attach
    to the right outer."""
    # L-union of two overlapping squares -> ONE ring, exactly 8 vertices
    polys = [
        [np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)],
        [np.array([[2, 2], [6, 2], [6, 6], [2, 6], [2, 2]], float)],
    ]
    area, quads = sweep.union_geometry(polys)
    merged = sweep.merged_boundary_polygons(quads)
    assert len(merged) == 1 and len(merged[0]) == 1
    ring = merged[0][0]
    assert len(ring) - 1 == 8  # no collinear trapezoid slivers
    assert abs(kernels.ring_area_signed(ring)) == pytest.approx(28.0, rel=1e-12)

    # frame (square with hole): outer 4 vertices + hole 4 vertices
    frame = [
        [
            np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float),
            np.array([[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]], float),
        ]
    ]
    a2, q2 = sweep.union_geometry(frame)
    m2 = sweep.merged_boundary_polygons(q2)
    assert len(m2) == 1 and len(m2[0]) == 2
    assert len(m2[0][0]) - 1 == 4 and len(m2[0][1]) - 1 == 4
    assert kernels.polygons_area(m2) == pytest.approx(84.0, rel=1e-12)

    # two disjoint squares -> two polygons, 4 vertices each
    two = [
        [np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)],
        [np.array([[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]], float)],
    ]
    _a3, q3 = sweep.union_geometry(two)
    m3 = sweep.merged_boundary_polygons(q3)
    assert sorted(len(p[0]) - 1 for p in m3) == [4, 4] and len(m3) == 2


def test_merged_boundary_random_property():
    """Random slanted triangles + boxes: merged output must preserve the
    exact union area (shoelace over polygons-with-holes) and agree with
    the trapezoid decomposition on a PIP probe grid."""
    rng = np.random.default_rng(3)
    polys = []
    for _ in range(12):
        cx, cy = rng.uniform(0, 10, 2)
        w, h = rng.uniform(0.5, 3.0, 2)
        polys.append([np.array([[cx, cy], [cx + w, cy], [cx + w, cy + h], [cx, cy + h], [cx, cy]])])
    for _ in range(8):
        p = rng.uniform(0, 10, (3, 2))
        if abs(kernels.ring_area_signed(np.vstack([p, p[:1]]))) < 0.2:
            continue
        polys.append([np.vstack([p, p[:1]])])
    area, quads = sweep.union_geometry(polys)
    merged = sweep.merged_boundary_polygons(quads)
    assert kernels.polygons_area(merged) == pytest.approx(area, rel=1e-9)
    # vertex economy: merged boundary has far fewer vertices than the quads
    n_quad_verts = sum(len(q) - 1 for q in quads)
    n_merged_verts = sum(len(r) - 1 for p in merged for r in p)
    assert n_merged_verts < n_quad_verts
    # PIP parity on a probe grid (strictly between boundaries a.s.)
    gx, gy = np.meshgrid(np.linspace(0.05, 10.05, 41), np.linspace(0.05, 10.05, 41))
    probes = np.column_stack([gx.ravel(), gy.ravel()])
    got = kernels.points_in_polygons(probes, merged)
    exp = kernels.points_in_polygons(probes, [[q] for q in quads])
    assert (got == exp).all()


def test_dissolve_output_is_merged(spark, holed_world):
    """dissolve() geometry is the merged-boundary multipolygon: the
    'urban' key (two overlapping holed shapes) must come back with a
    small ring count, not hundreds of trapezoid slivers."""
    lc, _ = holed_world
    rows = {r["featureclass"]: r for r in dissolve.dissolve(lc).collect()}
    g = wkb.decode(bytes(rows["urban"]["geom"]))
    n_rings = sum(len(rings) for rings in g.polygons())
    n_verts = sum(len(r) - 1 for rings in g.polygons() for r in rings)
    assert n_rings <= 6 and n_verts <= 60
    assert kernels.area_planar(g) == pytest.approx(EXPECT_URBAN_AREA, rel=1e-12)


def test_dissolve_cleanup_buffer_matches_reference_semantics(spark, holed_world):
    """Reference parity for ST_UNION(ST_BUFFER(ST_TRANSFORM(geom,3035),d))
    (app/query.py:158): each input is offset d metres BEFORE the union.
    With d=1km on degree-scale fixtures the rim is visible but small:
    area strictly grows, holes shrink but stay open, and a sub-2d gap
    between inputs is healed (the buffer's original GEOS-cleanup role)."""
    lc, _ = holed_world
    plain = {r["featureclass"]: r["union_area"] for r in dissolve.dissolve(lc).collect()}
    buffered = {
        r["featureclass"]: r
        for r in dissolve.dissolve(lc, cleanup_buffer_m=1000.0).collect()
    }
    for k in plain:
        grown = buffered[k]["union_area"]
        assert grown > plain[k]
        # 1 km on a ~1-degree-scale shape adds ~0.009 deg rim: well
        # under 20% growth, never a blow-up
        assert grown < plain[k] * 1.2
    # the urban hole (2x2 deg) survives a 1 km inward shrink
    g = wkb.decode(bytes(buffered["urban"]["geom"]))
    assert not kernels.points_in_polygons(np.array([[2.0, 2.0]]), g.polygons())[0]
    # gap healing: two squares 0.005 deg (~550 m) apart merge under a
    # 1 km buffer into ONE ring (buffer-then-union, not union-then-buffer)
    a = sq(0, 0, 1, 1)
    b = sq(1.005, 0, 2.005, 1)
    df = spark.createDataFrame(
        [("k", bytearray(wkb.polygon([a]))), ("k", bytearray(wkb.polygon([b])))],
        "featureclass string, geom binary",
    )
    healed = dissolve.dissolve(df, cleanup_buffer_m=1000.0).collect()[0]
    rings = wkb.decode(bytes(healed["geom"])).polygons()
    assert len(rings) == 1  # one merged polygon, gap closed
    unhealed = dissolve.dissolve(df).collect()[0]
    assert len(wkb.decode(bytes(unhealed["geom"])).polygons()) == 2


# ------------------------------------------- batched union vs slab loop


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_union_area_matches_slab_loop_on_cell_pieces(seed):
    """Per-(class, cell) pieces clipped at res 7-9, as the tiling path
    unions them, and whole-class unions (the benchmark oracle's form)."""
    from pda_spark.geo import cells

    polys = _land_cover(seed, 40)
    for res in (7, 8, 9):
        groups: dict = {}
        for cls, rings in polys:
            bb = rings[0].min(axis=0), rings[0].max(axis=0)
            cover = cells.cover_bbox(bb[0][0], bb[0][1], bb[1][0], bb[1][1], res)
            for cid, box in zip(cover.tolist(), zip(*cells.cell_boxes(cover))):
                x0, y0, x1, y1 = box
                clip = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
                oc = kernels.clip_convex(rings[0], clip)
                if not len(oc):
                    continue
                rs = [oc] + [h for h in (kernels.clip_convex(r, clip) for r in rings[1:]) if len(h)]
                groups.setdefault((cls, cid), []).append(rs)
        assert len(groups) >= 6, res
        for pieces in groups.values():
            _same_bits(pieces)
    for cls in range(3):
        assert _same_bits([rings for c, rings in polys if c == cls]) > 0.0


def test_union_area_matches_slab_loop_on_edge_cases():
    """Holes, touching and nested polygons, horizontal edges, slabs with
    no coverage between separated shapes, a zero-area ring, and a slab
    crossed by 10 disjoint intervals (the np.sum branch, >= 8)."""
    outer, hole = sq(0, 0, 4, 4), sq(1, 1, 3, 3)[::-1]
    cases = [
        [[outer, hole]],
        [[outer, hole], [sq(1.5, 1.5, 2.5, 2.5)]],
        [[sq(0, 0, 1, 1)], [sq(1, 0, 2, 1)], [sq(0, 1, 1, 2)]],  # edge-touching
        [[sq(0, 0, 1, 1)], [sq(1, 1, 2, 2)]],  # corner-touching
        [[sq(0, 0, 1, 1)], [sq(0, 5, 1, 6)]],  # an empty slab between
        [[np.array([[0, 0], [2, 0], [1, 0], [0, 0]], float)], [sq(0, 0, 1, 1)]],
        [[L_SHAPE], [U_SHAPE]],
        [[sq(0, 0, 1, 1)], [sq(0, 0, 1, 1)]],  # duplicates
        [[sq(2 * i, 0, 2 * i + 1, 1 + 0.1 * i)] for i in range(10)],
        [[sq(2 * i, 0, 2 * i + 1.5, 1)] for i in range(12)] + [[outer, hole]],
    ]
    for polys in cases:
        _same_bits(polys)
    assert sweep.union_area(cases[8]) == pytest.approx(sum(1 + 0.1 * i for i in range(10)))


def test_union_area_across_chunks(monkeypatch):
    """Slabs split into several chunks give the same bits as one chunk."""
    polys = [rings for _, rings in _land_cover(4, 25, span=0.6)]
    whole = _same_bits(polys)
    n_edges = len(sweep._edges_of_layer(polys)[0])
    monkeypatch.setattr(sweep, "UNION_CHUNK_ELEMS", 3 * n_edges)  # 3 slabs per chunk
    assert np.float64(sweep.union_area(polys)).tobytes() == np.float64(whole).tobytes()


def test_union_area_2048_pieces_bounded_memory():
    """A 2,048-piece cell (the dissolve routing threshold) unions in
    chunks: the peak of traced allocations stays below half of one
    unchunked slab x edge float64 array, and the area matches the slab
    loop."""
    import tracemalloc

    rng = np.random.default_rng(9)
    xy = rng.uniform(0.0, 1.0, (2048, 2))
    size = rng.uniform(0.005, 0.03, 2048)
    polys = [[sq(x, y, x + d, y + d)] for (x, y), d in zip(xy, size)]
    n_edges = len(sweep._edges_of_layer(polys)[0])
    n_slabs = len(sweep._slabs([sweep._edges_of_layer(polys)])) - 1
    tracemalloc.start()
    try:
        got = sweep.union_area(polys)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    unchunked = n_slabs * n_edges * 8
    assert peak < 96 * 2**20 < unchunked / 2, (peak, unchunked)
    assert np.float64(got).tobytes() == np.float64(union_area_slab_loop(polys)).tobytes()
