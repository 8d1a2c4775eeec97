"""Vectorized pandas/Arrow UDFs wrapping the numpy geometry kernels.

These are the *only* Python execution points in the engine's hot paths —
everything else stays JVM-side in whole-stage codegen. Each UDF receives
Arrow batches (spark.sql.execution.arrow.maxRecordsPerBatch rows) and runs
numpy-vectorized kernels; within a batch, repeated geometries (the common
case after a cell join against a small polygon side) are decoded once via
a bytes-keyed cache.

Reference equivalents:
- centroid_wkb      -> CentroidFromPolygon (db.py:73-84)
- lon_/lat_         -> ST_X/ST_Y hybrid props (db.py:134-148)
- area_sqkm         -> area_sqkm hybrid prop (db.py:150-158)
- buffer_point      -> city buffer (db.py:243-245)
- intersects_pair   -> ST_Intersects join predicate (db.py:116-122)
- cover_cells/point_cell -> replaces GiST index (see pda_spark.geo.cells)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pda_spark.geo import cells, kernels, wkb

# --------------------------------------------------------------- helpers


def _decode_cache():
    cache: dict[bytes, wkb.Geom] = {}

    def get(buf) -> wkb.Geom:
        b = bytes(buf)
        g = cache.get(b)
        if g is None:
            g = wkb.decode(b)
            cache[b] = g
        return g

    return get


def _decode_points(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    return wkb.decode_points_vec([bytes(b) for b in s])


# ----------------------------------------------------------- scalar UDFs


@pandas_udf(T.BinaryType())
def centroid_wkb(geom: pd.Series) -> pd.Series:
    get = _decode_cache()
    lons = np.empty(len(geom))
    lats = np.empty(len(geom))
    for i, buf in enumerate(geom):
        lons[i], lats[i] = kernels.centroid_3035(get(buf))
    return pd.Series(wkb.points_vec(lons, lats))


@pandas_udf(T.DoubleType())
def point_x(geom: pd.Series) -> pd.Series:
    lon, _ = _decode_points(geom)
    return pd.Series(lon)


@pandas_udf(T.DoubleType())
def point_y(geom: pd.Series) -> pd.Series:
    _, lat = _decode_points(geom)
    return pd.Series(lat)


@pandas_udf(T.DoubleType())
def area_sqkm(geom: pd.Series) -> pd.Series:
    get = _decode_cache()
    return pd.Series([kernels.area_3035_sqkm(get(b)) for b in geom])


@pandas_udf(T.DoubleType())
def area_planar(geom: pd.Series) -> pd.Series:
    get = _decode_cache()
    return pd.Series([kernels.area_planar(get(b)) for b in geom])


def buffer_point(dist_m: float, quad_segs: int = 8):
    @pandas_udf(T.BinaryType())
    def _buffer(geom: pd.Series) -> pd.Series:
        lon, lat = _decode_points(geom)
        return pd.Series([kernels.buffer_point_3035(lon[i], lat[i], dist_m, quad_segs) for i in range(len(lon))])

    return _buffer


def buffer_geom(dist_m: float, quad_segs: int = 8):
    """ST_Buffer for ANY stored geometry kind — point, polygon (with
    holes), multipolygon, or line — in EPSG:3035 metres, back to 4326
    (reference app/query.py:158 polygon cleanup; db.py:243-245 point
    buffer). Minkowski capsule union on the scanline kernel
    (kernels.buffer_geom_3035); one Arrow stage, WKB in, WKB out."""

    @pandas_udf(T.BinaryType())
    def _buffer(geom: pd.Series) -> pd.Series:
        get = _decode_cache()
        return pd.Series(
            [kernels.buffer_geom_3035(get(b), dist_m, quad_segs) for b in geom]
        )

    return _buffer


@pandas_udf(T.BooleanType())
def contains_pred(geom_a: pd.Series, geom_b: pd.Series) -> pd.Series:
    """ST_Contains(a, b) — polygonal operands, B off A's boundary
    (kernels.polys_contains contract). Vectorized Arrow batch, decode
    cached per distinct buffer."""
    get = _decode_cache()
    return pd.Series(
        [kernels.polys_contains(get(a), get(b)) for a, b in zip(geom_a, geom_b)]
    )


# (mask, shift) steps spreading a 29-bit value to even bit positions of
# an int64 — the classic Morton magic numbers, shared verbatim by the
# Catalyst expression and the SQL-oracle generator so they cannot drift
MORTON_SPREAD_STEPS = [
    (0x0000FFFF0000FFFF, 16),
    (0x00FF00FF00FF00FF, 8),
    (0x0F0F0F0F0F0F0F0F, 4),
    (0x3333333333333333, 2),
    (0x5555555555555555, 1),
]


def morton_spread_expr(col):
    """Spread the low 29 bits of ``col`` to even bit positions (bit
    interleave half) — pure Catalyst bit arithmetic, codegen'd."""
    x = col.cast("long").bitwiseAND(F.lit((1 << 29) - 1))
    for mask, shift in MORTON_SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_expr(ix_col, iy_col):
    """Morton / Z-order code of two 29-bit grid coordinates — the
    space-filling-curve sort key for data LAYOUT (Iceberg's
    write-ordered Z-order on cell, SURVEY §4 index strategy): sorting a
    fact table by this key makes spatially nearby rows file-adjacent,
    so parquet row-group min/max stats prune 2-D range
    scans that a row-major cell sort can only prune in one axis."""
    return morton_spread_expr(ix_col).bitwiseOR(
        F.shiftleft(morton_spread_expr(iy_col), 1)
    )


def morton_spread_sql(expr: str) -> str:
    """DuckDB SQL replaying morton_spread_expr bit-for-bit."""
    x = f"(CAST({expr} AS BIGINT) & {(1 << 29) - 1})"
    for mask, shift in MORTON_SPREAD_STEPS:
        x = f"(({x} | ({x} << {shift})) & {mask})"
    return x


# Standard geohash base-32 alphabet (public spec: 0-9 then b-z skipping
# a, i, l, o). The encode below IS the textbook bisection algorithm in
# closed form: the first b bits of the bisection path for lon are the
# top b bits of floor((lon+180)/360 * 2^b) — binary-fraction expansion —
# and the geohash bit stream interleaves lon/lat MSB-first starting with
# lon, which for equal bit counts is exactly (spread(ix) << 1) |
# spread(iy) in Morton terms.
GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_quantize(lon_col, lat_col, bits: int):
    n = F.lit(1 << bits)
    ix = F.least(
        F.greatest(F.floor((lon_col + 180.0) / 360.0 * n), F.lit(0)), n - 1
    ).cast("long")
    iy = F.least(
        F.greatest(F.floor((lat_col + 90.0) / 180.0 * n), F.lit(0)), n - 1
    ).cast("long")
    return ix, iy


def geohash_expr(lon_col, lat_col, precision: int = 6):
    """Geohash string of a lon/lat — pure Catalyst (quantize, Morton
    interleave, base-32 char lookup through an array literal; zero
    Python). Even ``precision`` only (odd precisions give lon one extra
    bit, which the equal-split Morton interleave cannot express; 6 ≈
    1.2 km cells and 8 ≈ 38 m cover the practical range). lon == 180
    clamps into the last cell (the 'z...' column), matching the usual
    wrap convention."""
    if precision % 2 or not 2 <= precision <= 10:
        raise ValueError(f"geohash_expr: precision must be even in [2, 10], got {precision}")
    bits = precision * 5 // 2
    ix, iy = _geohash_quantize(lon_col, lat_col, bits)
    code = F.shiftleft(morton_spread_expr(ix), 1).bitwiseOR(morton_spread_expr(iy))
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(code, 5 * (precision - 1 - i)).bitwiseAND(F.lit(31)) + 1).cast("int"),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lon_expr: str, lat_expr: str, precision: int = 6) -> str:
    """DuckDB SQL replaying geohash_expr bit-for-bit (shared quantize
    arithmetic + morton_spread_sql + the same alphabet literal)."""
    if precision % 2 or not 2 <= precision <= 10:
        raise ValueError(f"geohash_sql: precision must be even in [2, 10], got {precision}")
    bits = precision * 5 // 2
    n = 1 << bits
    ix = f"least(greatest(floor(({lon_expr} + 180.0) / 360.0 * {n}), 0), {n - 1})::BIGINT"
    iy = f"least(greatest(floor(({lat_expr} + 90.0) / 180.0 * {n}), 0), {n - 1})::BIGINT"
    code = f"(({morton_spread_sql(ix)} << 1) | {morton_spread_sql(iy)})"
    chars = " || ".join(
        f"substring('{GEOHASH_BASE32}', CAST((({code} >> {5 * (precision - 1 - i)}) & 31) + 1 AS INTEGER), 1)"
        for i in range(precision)
    )
    return f"({chars})"


def buffer_area_planar(dist: float, quad_segs: int = 8):
    """Area of the offset of a polygonal geometry in its own planar
    coordinates (no projection) — the SQL-oracle-friendly face of the
    Minkowski buffer kernel. Positive ``dist`` dilates (for a rectangle:
    w*h + 2d(w+h) + 16*sin(pi/16)*d^2 to float64 rounding — the quarter
    32-gon corner fans align with quadrant boundaries); negative ``dist``
    erodes (ST_Buffer negative distance; exact sharp-corner closed form
    (w-2|d|)(h-2|d|) for rectangles via kernels.erosion_area)."""

    @pandas_udf(T.DoubleType())
    def _ba(geom: pd.Series) -> pd.Series:
        get = _decode_cache()
        if dist < 0:
            return pd.Series(
                [
                    kernels.erosion_area(get(b).polygons(), -dist, quad_segs)
                    for b in geom
                ]
            )
        return pd.Series(
            [
                kernels.polygons_area(
                    kernels.buffer_polys(get(b).polygons(), dist, quad_segs)
                )
                for b in geom
            ]
        )

    return _ba


@pandas_udf(T.ArrayType(T.DoubleType()))
def _bbox_arr(geom: pd.Series) -> pd.Series:
    get = _decode_cache()
    return pd.Series([list(kernels.bbox(get(b))) for b in geom])


# [minx, miny, maxx, maxy] per geometry, evaluated once per row (see
# point_cell_lonlat): callers read the four elements in join conditions,
# and Catalyst would otherwise clone the deterministic call into the
# inferred isnotnull filter below the projection — a second
# ArrowEvalPython, i.e. a second WKB decode and Python worker per task
bbox_arr = _bbox_arr.asNondeterministic()


@pandas_udf(T.StringType())
def geojson_geometry(geom: pd.Series) -> pd.Series:
    """ST_AsGeoJSON equivalent (reference db.py:160-177) — edge-only."""
    import json

    get = _decode_cache()

    def to_gj(buf):
        g = get(buf)
        if g.gtype == wkb.POINT:
            return json.dumps({"type": "Point", "coordinates": g.parts[0][0].tolist()})
        if g.gtype == wkb.POLYGON:
            return json.dumps({"type": "Polygon", "coordinates": [r.tolist() for r in g.parts]})
        if g.gtype == wkb.MULTIPOLYGON:
            return json.dumps(
                {"type": "MultiPolygon", "coordinates": [[r.tolist() for r in p] for p in g.parts]}
            )
        return json.dumps({"type": "LineString", "coordinates": g.parts[0].tolist()})

    return pd.Series([to_gj(b) for b in geom])


def geojson_feature(geom_col, id_col, props_col):
    """Full GeoJSON Feature with id + properties (reference ``geojson``
    hybrid property, db.py:160-177 — round 1 serialized the geometry
    only). Spark-first composition: one Arrow stage for the geometry
    JSON, everything else JVM-side (``to_json`` over a properties
    struct + codegen'd concat) — the properties payload never touches
    Python."""
    # render the id through to_json so string ids get proper JSON
    # quoting/escaping (strip the one-element-array brackets)
    rid = F.regexp_replace(
        F.regexp_replace(F.to_json(F.array(id_col)), r"^\[", ""), r"\]$", ""
    )
    return F.concat(
        F.lit('{"type": "Feature", "id": '),
        rid,
        F.lit(', "geometry": '),
        geojson_geometry(geom_col),
        F.lit(', "properties": '),
        F.to_json(props_col),
        F.lit("}"),
    )


# ----------------------------------------------------------- cell UDFs


def point_cell(res: int):
    """Cell id of point geometries — fully vectorized."""

    @pandas_udf(T.LongType())
    def _cell(geom: pd.Series) -> pd.Series:
        lon, lat = _decode_points(geom)
        return pd.Series(cells.cell_of(lon, lat, res))

    return _cell


def point_cell_lonlat(res: int):
    """One decode pass returning struct(cell, lon, lat) for point WKBs —
    the lon/lat ride along so the join can bbox-prefilter candidates
    JVM-side before any Python refine."""

    @pandas_udf(T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]))
    def _cell(geom: pd.Series) -> pd.DataFrame:
        lon, lat = _decode_points(geom)
        return pd.DataFrame({"cell": cells.cell_of(lon, lat, res), "lon": lon, "lat": lat})

    # asNondeterministic: the function IS deterministic, but the flag
    # stops CollapseProject from inlining the call once per struct-field
    # access — without it the WKB decode runs 3x per row on the fact
    # table (one ArrowEvalPython per .cell/.lon/.lat read, VERDICT r3)
    return _cell.asNondeterministic()


def lonlat_cell(res: int):
    """Cell id from plain lon/lat double columns — no WKB decode at all."""

    @pandas_udf(T.LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cells.cell_of(lon.to_numpy(), lat.to_numpy(), res))

    return _cell


def _geom_cover(g, res: int, tight: bool) -> list[int]:
    """bbox cover of one decoded geometry, optionally tight-filtered
    (drop cells whose rectangle doesn't intersect the geometry — the
    tight-cover soundness invariant shared by every cover UDF)."""
    cover = cells.cover_bbox(*kernels.bbox(g), res)
    if tight and len(cover) > 4:
        return [
            int(cid)
            for cid in cover
            if kernels.polys_intersect(g, wkb.decode(wkb.box(*cells.cell_bounds(int(cid)))))
        ]
    return [int(c) for c in cover]


def cover_cells(res: int, tight: bool = True):
    """Cover cells of polygonal geometries (array<long>, to be exploded).

    ``tight=True`` drops bbox-cover cells whose rectangle doesn't actually
    intersect the geometry — cuts cell-join fan-out for slanted footprints
    (SURVEY §7 'fan-out control').
    """

    @pandas_udf(T.ArrayType(T.LongType()))
    def _cover(geom: pd.Series) -> pd.Series:
        get = _decode_cache()
        return pd.Series([_geom_cover(get(buf), res, tight) for buf in geom])

    return _cover


def bbox_cover_struct(res: int, tight: bool = True):
    """bbox AND cover cells in ONE decode pass -> struct(bbox, cells).
    Chaining bbox_arr + cover_cells costs a second Python worker per
    task (and doubles the per-action worker spin-up fixed cost on small
    broadcast sides); this fuses them."""

    @pandas_udf(T.StructType([
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("cells", T.ArrayType(T.LongType())),
    ]))
    def _bc(geom: pd.Series) -> pd.DataFrame:
        get = _decode_cache()
        bbs, covers = [], []
        for buf in geom:
            g = get(buf)
            bbs.append(list(kernels.bbox(g)))
            covers.append(_geom_cover(g, res, tight))
        return pd.DataFrame({"bbox": bbs, "cells": covers})

    # single evaluation per row (see point_cell_lonlat): Catalyst would
    # otherwise duplicate the UDF once per struct-field read
    return _bc.asNondeterministic()


# ----------------------------------------------------- refine predicates


@pandas_udf(T.BooleanType())
def intersects_pair(geom_a: pd.Series, geom_b: pd.Series) -> pd.Series:
    """Exact ST_Intersects refine on candidate pairs.

    Two-tier: axis-aligned-rectangle pairs (tiles, bboxes, box
    footprints — detected once per unique geometry) are decided by a
    VECTORIZED bbox-overlap compare, exact for rectangles; everything
    else falls back to the full kernel predicate, memoized per pair
    (both sides repeat heavily after a cell join). Measured 10x+ on a
    2M-footprint x land-cover join where per-pair Python was the
    bottleneck."""
    get = _decode_cache()
    ka = [bytes(b) for b in geom_a]
    kb = [bytes(b) for b in geom_b]
    codes_a, uniq_a = pd.factorize(pd.Series(ka, dtype=object))
    codes_b, uniq_b = pd.factorize(pd.Series(kb, dtype=object))

    def table(uniq):
        rect = np.empty(len(uniq), dtype=bool)
        bb = np.empty((len(uniq), 4), dtype=np.float64)
        for j, buf in enumerate(uniq):
            g = get(buf)
            rect[j] = kernels.is_axis_rect(g)
            bb[j] = kernels.bbox(g)
        return rect, bb

    rect_a, bb_a = table(uniq_a)
    rect_b, bb_b = table(uniq_b)
    ba = bb_a[codes_a]
    bb_ = bb_b[codes_b]
    overlap = (
        (ba[:, 0] <= bb_[:, 2]) & (bb_[:, 0] <= ba[:, 2])
        & (ba[:, 1] <= bb_[:, 3]) & (bb_[:, 1] <= ba[:, 3])
    )
    out = overlap.copy()
    slow = ~(rect_a[codes_a] & rect_b[codes_b]) & overlap
    slow_i = np.nonzero(slow)[0]
    if slow_i.size:
        # batch the non-rect refine: dedup to unique (A, B) pairs, then
        # staged vectorized decision (grouped vertex containment, edge
        # crossing only for the undecided remainder) — same values as
        # the scalar kernel pair-by-pair, ~10x fewer numpy dispatches
        pk = codes_a[slow_i].astype(np.int64) * np.int64(len(uniq_b)) + codes_b[slow_i]
        up, inv = np.unique(pk, return_inverse=True)
        ia = (up // len(uniq_b)).astype(np.int64)
        ib = (up % len(uniq_b)).astype(np.int64)
        ga_list = [get(b) for b in uniq_a]
        gb_list = [get(b) for b in uniq_b]
        res_u = kernels.polys_intersect_batch(ga_list, gb_list, ia, ib)
        out[slow_i] = res_u[inv]
    return pd.Series(out)


@pandas_udf(T.BooleanType())
def point_in_polygon_lonlat(lon: pd.Series, lat: pd.Series, poly_geom: pd.Series) -> pd.Series:
    """PIP refine on already-decoded lon/lat doubles (skips re-decoding
    point WKBs inside the join's refine stage)."""
    pts = np.column_stack([lon.to_numpy(), lat.to_numpy()])
    keys = pd.Series([bytes(b) for b in poly_geom])
    out = np.zeros(len(keys), dtype=bool)
    for key, idx in keys.groupby(keys).groups.items():
        g = wkb.decode(key)
        ii = np.asarray(idx)
        out[ii] = kernels.points_in_polygons(pts[ii], g.polygons())
    return pd.Series(out)


def distance_m_lonlat():
    """Planar EPSG:3035 distance in metres from four plain double columns
    (no WKB decode — the cheap path when lon/lat ride along the plan)."""
    from pda_spark.geo import proj

    @pandas_udf(T.DoubleType())
    def _dist(lon_a: pd.Series, lat_a: pd.Series, lon_b: pd.Series, lat_b: pd.Series) -> pd.Series:
        xa, ya = proj.fwd(lon_a.to_numpy(), lat_a.to_numpy())
        xb, yb = proj.fwd(lon_b.to_numpy(), lat_b.to_numpy())
        return pd.Series(np.hypot(xa - xb, ya - yb))

    return _dist


@pandas_udf(T.DoubleType())
def line_length_planar(geom: pd.Series) -> pd.Series:
    """ST_Length (planar, geometry units) of LineString/MultiLineString.

    IEEE754-deterministic: per-segment sqrt(dx*dx + dy*dy), accumulated
    strictly left-to-right in vertex order (matching a SQL oracle's
    left-associated `sqrt(..) + sqrt(..) + ...` chain bit-for-bit when
    the coordinates come from identical arithmetic)."""
    get = _decode_cache()
    out = np.zeros(len(geom))
    for i, buf in enumerate(geom):
        total = 0.0
        for line in get(buf).lines():
            dx = np.diff(line[:, 0])
            dy = np.diff(line[:, 1])
            for v in np.sqrt(dx * dx + dy * dy):
                total += float(v)
        out[i] = total
    return pd.Series(out)


def distance_geodesic_lonlat():
    """Great-circle (haversine) distance in metres on the authalic
    sphere (radius proj.RQ — same sphere the EPSG:3035 LAEA math uses,
    so the two metric paths share one earth model). Vectorized over four
    plain double columns; the op sequence is pinned so a numpy
    brute-force twin using the same formula is bit-identical."""
    from pda_spark.geo import proj

    @pandas_udf(T.DoubleType())
    def _dist(lon_a: pd.Series, lat_a: pd.Series, lon_b: pd.Series, lat_b: pd.Series) -> pd.Series:
        return pd.Series(
            haversine_m(
                lon_a.to_numpy(), lat_a.to_numpy(), lon_b.to_numpy(), lat_b.to_numpy(), proj.RQ
            )
        )

    return _dist


@pandas_udf(T.ArrayType(T.DoubleType()))
def geodesic_seg_lengths(geom: pd.Series) -> pd.Series:
    """Per-segment great-circle lengths of a (multi)linestring in metres
    on the authalic sphere (ST_LengthSpheroid's per-segment face —
    emitting segments instead of the per-line sum keeps every value a
    single scalar haversine, no float accumulation order)."""
    from pda_spark.geo import proj, wkb as W

    out = []
    for b in geom:
        g = W.decode(bytes(b))
        lens: list[float] = []
        for ln in g.lines():
            lens.extend(
                float(v)
                for v in haversine_m(
                    ln[:-1, 0], ln[:-1, 1], ln[1:, 0], ln[1:, 1], proj.RQ
                )
            )
        out.append(lens)
    return pd.Series(out)


def haversine_m(lon_a, lat_a, lon_b, lat_b, radius: float):
    """Shared numpy haversine kernel (also the parity-test oracle)."""
    p1 = np.radians(np.asarray(lat_a, dtype=np.float64))
    p2 = np.radians(np.asarray(lat_b, dtype=np.float64))
    dphi_h = (p2 - p1) / 2.0
    dlam_h = (np.radians(np.asarray(lon_b, dtype=np.float64))
              - np.radians(np.asarray(lon_a, dtype=np.float64))) / 2.0
    s = np.sin(dphi_h) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam_h) ** 2
    return 2.0 * radius * np.arcsin(np.sqrt(np.clip(s, 0.0, 1.0)))


# ------------------------------------------------- JVM-side cell helpers


def cover_cells_bbox_expr(minx, miny, maxx, maxy, res: int):
    """bbox cover cells as a PURE Catalyst expression (array<long> via
    sequence x sequence fan-out, whole-stage codegen) — replaces the
    cover_cells Arrow UDF wherever a bbox cover suffices, removing a
    Python stage (and, chained after bbox_arr, a second Python worker
    per task). Bit-identical to cells.cover_bbox: same floor/clamp on
    the same doubles, same res<<58|ix<<29|iy packing."""
    n = F.lit(1 << res)
    nm1 = F.lit((1 << res) - 1)

    def cl(v, scale, off):
        return F.least(F.greatest(F.floor((v + off) / scale * n), F.lit(0)), nm1).cast("long")

    ix0, ix1 = cl(minx, 360.0, 180.0), cl(maxx, 360.0, 180.0)
    iy0, iy1 = cl(miny, 180.0, 90.0), cl(maxy, 180.0, 90.0)
    base = F.lit(res).cast("long") * F.lit(1 << 58).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(F.sequence(iy0, iy1), lambda iy: base + F.shiftleft(ix, 29) + iy),
        )
    )


def cell_of_xy_expr(lon_col, lat_col, res: int):
    """cell_of as a pure Catalyst expression (no Python) — used for the
    reference-point pair dedup inside polygon-polygon cell joins, so the
    dedup is a codegen'd filter instead of a shuffle."""
    n = F.lit(1 << res)
    ix = F.least(F.greatest(F.floor((lon_col + 180.0) / 360.0 * n), F.lit(0)), n - 1).cast("long")
    iy = F.least(F.greatest(F.floor((lat_col + 90.0) / 180.0 * n), F.lit(0)), n - 1).cast("long")
    return (F.lit(res).cast("long") * F.lit(1 << 58).cast("long")) + F.shiftleft(ix, 29) + iy


@pandas_udf(T.BinaryType())
def simplify_geom(geom: pd.Series, tol: pd.Series) -> pd.Series:
    """ST_Simplify (Douglas-Peucker, kernels.dp_simplify): per-polyline /
    per-ring, with a ring-collapse guard. tol in geometry units."""
    get = _decode_cache()
    out = []
    for buf, t in zip(geom, tol):
        out.append(wkb.encode(kernels.simplify_geom(get(buf), float(t))))
    return pd.Series(out)


@pandas_udf(T.LongType())
def num_points(geom: pd.Series) -> pd.Series:
    """ST_NPoints: total vertex count over all parts/rings."""
    get = _decode_cache()
    out = np.zeros(len(geom), dtype=np.int64)
    for i, buf in enumerate(geom):
        g = get(buf)
        if g.gtype in (wkb.LINESTRING, wkb.MULTILINESTRING):
            out[i] = sum(len(ln) for ln in g.lines())
        elif g.gtype in (wkb.POLYGON, wkb.MULTIPOLYGON):
            out[i] = sum(len(r) for rings in g.polygons() for r in rings)
        else:
            out[i] = len(g.points())
    return pd.Series(out)


def hilbert_key(
    df,
    ix_col: str,
    iy_col: str,
    res: int,
    out_col: str = "hilbert_d",
):
    """Append the Hilbert-curve index of two ``res``-bit grid coordinates
    — the space-filling LAYOUT key that strictly beats Z-order locality
    (consecutive keys are always grid-adjacent, no Z-jumps), for
    write-ordered clustering of spatial fact tables.

    Pure Catalyst, BRANCHLESS: the classic xy2d loop (quadrant digit
    ``(3*rx) xor ry`` then reflect-and-swap rotation) unrolled over the
    ``res`` levels — but with the rotation rewritten as XOR masks, which
    is exact on a power-of-two grid: reflection ``n-1-v`` is
    ``v XOR (n-1)`` (all-ones subtraction never borrows), and the
    conditional swap is ``x^t, y^t`` with ``t = swap * (x XOR y)``.
    ~10 cheap integer ops per level with ZERO conditionals. The first
    cut used CASE-WHEN chains; at res 12 the generated code blew past
    the JVM codegen limits and fell back to interpreted eval —
    per-core throughput COLLAPSED under parallelism (5.1 -> 2.8 M
    rows/s going 2 -> 8 cores). The branchless form stays codegen'd
    (BENCH/scaling_hilbert.json). Intermediate columns materialize per
    level so the plan is LINEAR in ``res``.

    ``hilbert_sql`` replays the identical level chain as DuckDB CTEs
    generated from the same loop constants, the q94 shared-constants
    discipline."""
    if not 1 <= res <= 29:
        raise ValueError(f"hilbert_key: res must be in [1, 29], got {res}")
    n = 1 << res
    x, y, d = "_h_x", "_h_y", "_h_d"
    out = df.withColumn(x, F.col(ix_col).cast("long")).withColumn(
        y, F.col(iy_col).cast("long")
    ).withColumn(d, F.lit(0).cast("long"))
    for lvl in range(res - 1, -1, -1):
        rx = F.shiftright(F.col(x), lvl).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col(y), lvl).bitwiseAND(F.lit(1))
        out = out.withColumn("_h_rx", rx).withColumn("_h_ry", ry)
        digit = (F.col("_h_rx") * 3).bitwiseXOR(F.col("_h_ry"))
        # digits occupy disjoint bit pairs -> OR is the exact sum
        out = out.withColumn(d, F.col(d).bitwiseOR(F.shiftleft(digit, 2 * lvl)))
        # reflect iff (ry == 0 and rx == 1): mask m = rx*(1-ry)*(n-1);
        # swap iff ry == 0: t = (1-ry)*(x XOR y) — the reflect mask
        # cancels out of the swap XOR, so t needs only the raw x^y
        refl = F.col("_h_rx").bitwiseAND(F.lit(1) - F.col("_h_ry"))
        out = out.withColumn("_h_m", refl * F.lit(n - 1)).withColumn(
            "_h_t", (F.lit(1) - F.col("_h_ry")) * F.col(x).bitwiseXOR(F.col(y))
        )
        out = out.withColumn(
            "_h_x2", F.col(x).bitwiseXOR(F.col("_h_m")).bitwiseXOR(F.col("_h_t"))
        ).withColumn(
            "_h_y2", F.col(y).bitwiseXOR(F.col("_h_m")).bitwiseXOR(F.col("_h_t"))
        )
        out = out.withColumn(x, F.col("_h_x2")).withColumn(y, F.col("_h_y2"))
    return out.withColumn(out_col, F.col(d)).drop(
        x, y, d, "_h_rx", "_h_ry", "_h_m", "_h_t", "_h_x2", "_h_y2"
    )


def hilbert_sql(src_sql: str, keep_cols: list[str], ix: str, iy: str, res: int) -> str:
    """DuckDB query replaying hilbert_key's level chain bit-for-bit:
    one CTE per level generated from the SAME loop constants. ``src_sql``
    must select ``keep_cols`` plus grid coords aliased ``ix``/``iy``."""
    if not 1 <= res <= 29:
        raise ValueError(f"hilbert_sql: res must be in [1, 29], got {res}")
    n = 1 << res
    keep = ", ".join(keep_cols)
    parts = [
        f"h{res} AS (SELECT {keep}, CAST({ix} AS BIGINT) AS hx,"
        f" CAST({iy} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM ({src_sql}))"
    ]
    prev = f"h{res}"
    for lvl in range(res - 1, -1, -1):
        rx = f"((hx >> {lvl}) & 1)"
        ry = f"((hy >> {lvl}) & 1)"
        cur = f"h{lvl}"
        parts.append(
            f"{cur} AS (SELECT {keep},\n"
            f"  xor(xor(hx, m), t) AS hx,\n"
            f"  xor(xor(hy, m), t) AS hy,\n"
            f"  (hd | (xor(rx * 3, ry) << {2 * lvl})) AS hd\n"
            f"  FROM (SELECT *, (rx & (1 - ry)) * {n - 1} AS m,"
            f" (1 - ry) * xor(hx, hy) AS t\n"
            f"        FROM (SELECT *, {rx} AS rx, {ry} AS ry FROM {prev})))"
        )
        prev = cur
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT {keep}, hd AS hilbert_d FROM {prev}"
    )
