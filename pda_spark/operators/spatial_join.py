"""Cell-index spatial joins: the engine's replacement for PostGIS GiST.

Reference semantics being reproduced:
- image x land_cover ST_Intersects join (/root/reference/database/db.py:116-122,
  used at app/query.py:126-129)
- country x image ST_Intersects (db.py:219-224, app/query.py:47)
- city-buffer x image distance join (db.py:236-245, app/query.py:98)
- kNN (BASELINE north_star; absent in reference, generalizes the above)

Physical strategy (Spark-first). The small side of every join here is a
dimension table (countries ~241 rows, land cover ~2.4k, a few hundred
kNN queries), so the large point / fact side never shuffles.

PIP and kNN (``points_in_polygons_join[_multires]``, ``knn_join``) run as
a broadcast INDEX PROBE in one Arrow pass:
1. INDEX   — the builder collects the small side once (``toArrow``, one
             eager job; it must fit in driver memory) and builds a numpy
             table of (cell id, owner row) sorted by cell: a polygon's
             tight cover cells, a kNN query's Chebyshev ring cells. The
             table rides in the pass function's closure.
2. PROBE   — one ``mapInArrow`` pass over the point side computes each
             point's cell (``cells.cell_of``), finds its owners with
             ``searchsorted`` and refines the (point, owner) pairs in
             numpy: bbox test + ray-cast PIP per polygon, or the metric
             distance plus a per-query partial top-k. No candidate pair
             is ever built in the JVM or shipped to Python; Python sees
             each point row once.
3. JOIN BACK — PIP emits (point columns, ``_idx``) rows that a broadcast
             hash join against the collected table (a local relation)
             completes; kNN emits its few surviving rows with the query
             columns already taken from the collected table, and a
             ``row_number`` window on them picks the top k.
Only ``knn_join(broadcast_queries=False)`` keeps a shuffled cell
equi-join, for a query side too large to collect.

Polygon x polygon joins (``intersects_join[_multires]``) keep the cell
equi-join:
1. COVER   — each geometry explodes to its bbox cover cells (a Catalyst
             expression over one bbox decode stage).
2. JOIN    — plain equi-join on ``cell`` with the right side broadcast.
3. DEDUP   — covers overlap in many cells; duplicate pairs are eliminated
             *without a shuffle* by the reference-point rule: a pair is
             emitted only by the cell that contains the top-left corner of
             the bbox-intersection of the two geometries (pure Catalyst
             arithmetic, codegen'd filter).
4. REFINE  — exact polygon-pair kernel as an Arrow UDF filter.

Plan construction: cell ids, covers, bbox prefilters and the dedup
filter are written as Spark SQL text (``geo_udfs.cell_of_xy_text``,
``cover_cells_bbox_text``) and each step adds or drops its helper
columns in one projection. Each Column operator is a py4j round trip
or more on the driver, and each DataFrame step is re-analyzed, so a
Column-chain build made hundreds to thousands of round trips per call;
the text builds the same optimized plan.

Skew: ``intersects_join(salt=k)`` splits hot cells: the big side gets a
random salt in [0,k), the small side is replicated k times (explode of a
literal array). AQE skew-join is also on (session.py) as a safety net.
The index probe chunks a hot cell's pairs (``PROBE_CHUNK_PAIRS``).

Scale notes (100 TB): neither plan shuffles the fact side (the
intersects_join kernel refine adds one round-robin exchange to widen its
Python stage). Resolution R trades fan-out (cells/geometry) against
refine selectivity; for web-page points x country polygons R=6..8 keeps
the index < 100k rows while making candidate lists small.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pda_spark.functions import geo_udfs
from pda_spark.geo import cells as C
from pda_spark.geo import kernels, wkb
from pda_spark.geo import proj as P
from pda_spark.session import arrow_width

# cover fan-out the data-derived resolutions aim for, per geometry
# (cells.choose_res): ~2 cells per axis
TARGET_CELLS = 4

# (point, owner) pairs the index probe expands at once: a hot cell (many
# points in one indexed cell, or many owners over one point) is refined
# in chunks of this many pairs, so a worker's pair arrays stay bounded
# whatever the skew (a single point's owners are never split). Read when
# a join is built and carried in its pass function.
PROBE_CHUNK_PAIRS = 1 << 20


def _salted(df: DataFrame, salt: int, side: str) -> DataFrame:
    if salt <= 1:
        return df
    if side == "big":
        # Salt from the ROW POSITION, not row content: hashing the columns
        # (incl. the WKB payload) pays a per-row hash of the geometry AND
        # maps fully-identical hot rows — the duplicate-heavy skew case
        # salting exists for — onto ONE salt value, defeating the split
        # (VERDICT r3). monotonically_increasing_id is per-row unique and
        # cycles pmod through every bucket within each partition.
        return df.withColumn(
            "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)).cast("int")
        )
    return df.withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(salt)])))


def _extent_res(dim: float) -> int:
    """The ``res="auto"`` resolution for a geometry extent of ``dim``
    degrees: where it spans ~sqrt(TARGET_CELLS) cells per axis
    (cells.choose_res), clamped to [2, 12] — below 2 everything lands in
    a handful of world-size cells, above 12 point cells are already
    street-scale. A point-like extent gets the finest clamped res."""
    if dim <= 0.0:
        return 12
    return int(min(max(C.choose_res(dim, TARGET_CELLS), 2), 12))


def _auto_res(polygons: DataFrame, geom: str) -> int:
    """Pick the cell resolution from the data (SURVEY §4 item 1): sample
    polygon bboxes (bounded limit, not a full scan), take the p95 of the
    per-geometry extent, and choose ``_extent_res`` of it. p95 — not the
    mean — so the LARGE geometries (country polygons joined against 1 km
    scenes, reference db.py:208-224 vs :103-122) are the ones whose
    fan-out is bounded; smaller geometries always cover >= 1 cell and
    only get cheaper. One small eager job at plan-construction time
    (same pattern as dissolve's _auto_step)."""
    bb = polygons.select(geo_udfs.bbox_arr(F.col(geom)).alias("_bb")).limit(4096)
    row = bb.select(
        F.greatest(F.col("_bb")[2] - F.col("_bb")[0], F.col("_bb")[3] - F.col("_bb")[1]).alias("d")
    ).agg(F.percentile_approx("d", F.lit(0.95)).alias("d")).first()
    return _extent_res(float(row["d"]) if row is not None and row["d"] is not None else 0.0)


def _p95_res(dims: np.ndarray) -> int:
    """``res="auto"`` of the PIP joins, from the collected polygons' bbox
    extents (NaN for a NULL geometry): ``_extent_res`` of the
    ceil(0.95 n)-th smallest extent, the element ``percentile_approx``
    returns for 0.95 over an exact sample. No Spark job."""
    d = np.sort(dims[~np.isnan(dims)])
    return _extent_res(float(d[max(math.ceil(0.95 * len(d)) - 1, 0)]) if len(d) else 0.0)


def _snap_res(dim: float, res_list: list[int]) -> int:
    """Per-geometry resolution of the multi-resolution joins: the
    ``cells.choose_res`` pick for a ``dim``-sized extent, clamped into
    ``res_list`` (sorted) and snapped DOWN to a listed resolution
    (coarser => fewer cells; never exceeds the fan-out target)."""
    r = max(res_list[0], min(res_list[-1], C.choose_res(dim, TARGET_CELLS)))
    return max(x for x in res_list if x <= r)


def _check_how(
    op: str, how: str, left: DataFrame, left_id: str | None,
    right: DataFrame, right_id: str | None, id_params: tuple[str, str],
) -> None:
    """Validate ``how`` and, for an outer variant, that the preserved
    side's id names one of its columns (``id_params``: the op's
    parameter names for the left and right id)."""
    if how not in ("inner", "left", "right"):
        raise ValueError(f"{op}: how={how!r} unsupported; one of 'inner', 'left', 'right'")
    for side, df, col, param in (
        ("left", left, left_id, id_params[0]), ("right", right, right_id, id_params[1])
    ):
        if how == side and (col is None or col not in df.columns):
            raise ValueError(f"{op}: how={side!r} requires {param} naming a {side}-side column")


def _outer(
    inner: DataFrame, how: str, left: DataFrame, right: DataFrame,
    left_id: str | None, right_id: str | None,
) -> DataFrame:
    """``inner`` plus the preserved side's unmatched rows, other side's
    columns null (``how`` 'left' or 'right'; 'inner' returns ``inner``).

    The inner result is consumed TWICE (the output union and the
    matched-id set), so it is materialized once (lazy localCheckpoint):
    the candidate join or probe pass and its refine don't re-execute per
    consumer.
    The backfill is a null-SAFE anti-join on the preserved side's id: a
    matched row with a NULL id must not reappear (plain left_anti treats
    NULL != NULL and would emit it twice, matched and null-padded)."""
    if how == "inner":
        return inner
    inner = inner.localCheckpoint(eager=False)
    preserved, id_col, other = (left, left_id, right) if how == "left" else (right, right_id, left)
    matched = inner.select(F.col(id_col).alias("_mid")).distinct()
    missing = preserved.join(
        matched, on=F.col(id_col).eqNullSafe(F.col("_mid")), how="left_anti"
    )
    nulls = [F.lit(None).cast(other.schema[c].dataType).alias(c) for c in other.columns]
    if how == "left":
        return inner.unionByName(missing.select(*left.columns, *nulls))
    return inner.unionByName(missing.select(*nulls, *right.columns))


def _cols(df: DataFrame) -> list[str]:
    """``df``'s columns as quoted SQL identifiers, for the projections
    that keep them and add or drop helper columns in one step."""
    return ["`" + c.replace("`", "``") + "`" for c in df.columns]


def _point_side(
    points: DataFrame, res: int, point_geom: str, lonlat_cols: tuple[str, str] | None
) -> DataFrame:
    """Point side of a shuffled cell join: ``_cell`` at ``res`` plus the
    ``_plon``/``_plat`` the distance reads. With ``lonlat_cols`` all
    three are Catalyst expressions (no Python stage); otherwise one
    ``point_cell_lonlat`` pass decodes the point WKB."""
    if lonlat_cols is not None:
        lon_c, lat_c = lonlat_cols
        return points.selectExpr(
            "*",
            f"{geo_udfs.cell_of_xy_text(lon_c, lat_c, res)} AS _cell",
            f"{lon_c} AS _plon",
            f"{lat_c} AS _plat",
        )
    pts = points.withColumn("_pc", geo_udfs.point_cell_lonlat(res)(point_geom))
    return pts.selectExpr(
        *_cols(points), "_pc.cell AS _cell", "_pc.lon AS _plon", "_pc.lat AS _plat"
    )


def _bboxes_overlap(lb: str, rb: str) -> str:
    """Overlap of two [minx, miny, maxx, maxy] bbox columns, as codegen'd
    comparisons (SQL text): geometries can share a cell without their
    bboxes overlapping, and this rejects those pairs before any Python
    refine."""
    return (
        f"{lb}[0] <= {rb}[2] AND {rb}[0] <= {lb}[2] AND {lb}[1] <= {rb}[3] AND {rb}[1] <= {lb}[3]"
    )


# ---- broadcast index probe (PIP and kNN) --------------------------------


def _cell_index(cells_per_owner: list) -> tuple[np.ndarray, np.ndarray]:
    """(keys, owners): every owner row's cell ids, sorted by cell, and the
    owner row index of each."""
    sizes = [len(c) for c in cells_per_owner]
    keys = np.concatenate([np.asarray(c, dtype=np.int64) for c in cells_per_owner] or
                          [np.empty(0, dtype=np.int64)])
    owners = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    order = np.argsort(keys, kind="stable")
    return keys[order], owners[order]


def _batch_lonlat(batch: pa.RecordBatch, point_geom: str, lonlat_cols) -> tuple:
    """float64 lon/lat of one Arrow batch of the point side, read from the
    ``lonlat_cols`` or decoded from the point WKB; a NULL coordinate or
    point reads as NaN."""
    if lonlat_cols is not None:
        return tuple(
            batch.column(c).cast(pa.float64()).to_numpy(zero_copy_only=False) for c in lonlat_cols
        )
    col = batch.column(point_geom)
    lon, lat = np.full(len(col), np.nan), np.full(len(col), np.nan)
    valid = col.is_valid()
    ok = valid.to_numpy(zero_copy_only=False)
    if ok.any():
        lon[ok], lat[ok] = wkb.decode_points_vec(col.filter(valid).to_pylist())
    return lon, lat


def _probe_chunks(lon, lat, resolutions, keys, owners, chunk):
    """The (row, owner) pairs of a batch's points whose cell at one of
    ``resolutions`` is in the index (``keys`` sorted, ``owners``
    aligned), in chunks of at most ``chunk`` pairs. A point with a NaN
    coordinate matches nothing."""
    ok = np.flatnonzero(~(np.isnan(lon) | np.isnan(lat)))
    rows, starts, counts = [ok[:0]], [ok[:0]], [ok[:0]]
    for r in resolutions:
        cell = C.cell_of(lon[ok], lat[ok], r)
        lo = np.searchsorted(keys, cell, "left")
        n = np.searchsorted(keys, cell, "right") - lo
        hit = n > 0
        rows.append(ok[hit])
        starts.append(lo[hit])
        counts.append(n[hit])
    rows, starts, counts = (np.concatenate(a) for a in (rows, starts, counts))
    ends = np.cumsum(counts)
    i = 0
    while i < len(rows):
        j = max(int(np.searchsorted(ends, ends[i] - counts[i] + chunk, "right")), i + 1)
        n = counts[i:j]
        first = np.repeat(starts[i:j] - (np.cumsum(n) - n), n)
        yield np.repeat(rows[i:j], n), owners[first + np.arange(int(n.sum()))]
        i = j


def _take(batch: pa.RecordBatch, rows: np.ndarray, extra: dict) -> pa.RecordBatch:
    """``batch``'s rows at ``rows`` (every column keeps its Arrow type)
    followed by the ``extra`` columns."""
    t = batch.take(pa.array(rows))
    return pa.RecordBatch.from_arrays(
        [*t.columns, *(pa.array(v) if isinstance(v, np.ndarray) else v for v in extra.values())],
        names=[*t.schema.names, *extra],
    )


def _pip_pairs(lon, lat, rows, owner, bboxes, polys):
    """The (row, owner) pairs whose point lies in the owner polygon: the
    closed bbox test, then one ``kernels.points_in_polygons`` call per
    polygon over its points."""
    bb = bboxes[owner]
    x, y = lon[rows], lat[rows]
    keep = (x >= bb[:, 0]) & (x <= bb[:, 2]) & (y >= bb[:, 1]) & (y <= bb[:, 3])
    order = np.flatnonzero(keep)[np.argsort(owner[keep], kind="stable")]
    rows, owner = rows[order], owner[order]
    if not len(rows):
        return rows, owner
    hit = np.empty(len(rows), dtype=bool)
    cut = np.flatnonzero(np.diff(owner)) + 1
    for s, e in zip(np.r_[0, cut], np.r_[cut, len(rows)]):
        r = rows[s:e]
        hit[s:e] = kernels.points_in_polygons(np.column_stack([lon[r], lat[r]]), polys[owner[s]])
    return rows[hit], owner[hit]


def _pip_pass(batches, coords, resolutions, keys, owners, bboxes, polys, chunk):
    """The PIP probe over a partition's Arrow batches: each point row
    once per containing polygon, with the polygon's row index in
    ``_idx``."""
    for batch in batches:
        lon, lat = _batch_lonlat(batch, *coords)
        found = [
            _pip_pairs(lon, lat, r, o, bboxes, polys)
            for r, o in _probe_chunks(lon, lat, resolutions, keys, owners, chunk)
        ]
        rows = np.concatenate([f[0] for f in found]) if found else np.empty(0, dtype=np.int64)
        if len(rows):
            yield _take(batch, rows, {"_idx": np.concatenate([f[1] for f in found])})


def _pip_probe_join(
    points: DataFrame, polygons: DataFrame, res_of, point_geom: str, poly_geom: str,
    lonlat_cols: tuple[str, str] | None,
) -> DataFrame:
    """The broadcast index PIP join (module docstring): collect the
    polygons, index each one's tight cover (``geo_udfs._geom_cover``) at
    ``res_of(extents)`` (one resolution per polygon, from its bbox
    extent; NaN for a NULL geometry), probe in one ``mapInArrow`` pass
    and join the polygon columns back by row index. A NULL polygon
    matches nothing (``ST_Contains(NULL, p)`` is NULL)."""
    table = polygons.toArrow()
    geoms = [None if b is None else wkb.decode(b) for b in table.column(poly_geom).to_pylist()]
    bboxes = np.array(
        [kernels.bbox(g) if g is not None else (np.nan,) * 4 for g in geoms], dtype=np.float64
    ).reshape(-1, 4)
    res_each = res_of(np.maximum(bboxes[:, 2] - bboxes[:, 0], bboxes[:, 3] - bboxes[:, 1]))
    covers = [
        [] if g is None else geo_udfs._geom_cover(g, int(r)) for g, r in zip(geoms, res_each)
    ]
    keys, owners = _cell_index(covers)
    polys = [g.polygons() if c else None for g, c in zip(geoms, covers)]
    resolutions = sorted({int(r) for r, c in zip(res_each, covers) if c})
    coords, chunk = (point_geom, lonlat_cols), PROBE_CHUNK_PAIRS

    def probe(batches):
        return _pip_pass(batches, coords, resolutions, keys, owners, bboxes, polys, chunk)

    idx = T.StructField("_idx", T.LongType(), False)
    mapped = points.mapInArrow(probe, T.StructType([*points.schema.fields, idx]))
    small = polygons.sparkSession.createDataFrame(
        table.append_column("_idx", pa.array(np.arange(len(geoms), dtype=np.int64))),
        T.StructType([*polygons.schema.fields, idx]),
    )
    return mapped.join(F.broadcast(small), on="_idx").drop("_idx")


def points_in_polygons_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int | str = 7,
    point_geom: str = "geom",
    poly_geom: str = "geom",
    how: str = "inner",
    lonlat_cols: tuple[str, str] | None = None,
    point_id: str | None = None,
    poly_id: str | None = None,
) -> DataFrame:
    """ST_Contains/ST_Intersects join of a large point table against a
    polygon table. Columns of both inputs are preserved (points', then
    polygons'); clashing names must be disambiguated by the caller
    beforehand.

    Plan: the broadcast index probe of the module docstring. Building
    the join runs one eager job, the collect of the polygon side, which
    must fit in driver memory (the broadcast it replaces had the same
    bound); the action runs one ``mapInArrow`` pass over the points,
    which reads only their coordinates, and a broadcast join of the
    polygon columns back by row index.

    ``lonlat_cols``: pass (lon, lat) column names if the point table
    already carries plain coordinates; otherwise the pass decodes the
    ``point_geom`` WKB. Points with a NULL or NaN coordinate match
    nothing.

    ``res="auto"`` derives the resolution from the collected polygons'
    bbox extents (p95, see ``_p95_res``): no extra job.

    ``how``: 'inner' (default), 'left' (keep points with no containing
    polygon, polygon columns null — requires ``point_id``), or 'right'
    (keep polygons containing no point, point columns null — requires
    ``poly_id``; the reference dashboard's "cities with zero images"
    ask, app/query.py:94-105 keeps only matched cities). Outer variants
    backfill via one anti-join on the preserved side's id against the
    matched-id set — no change to the probe pipeline, and the
    matched-id projection is column-pruned to the id alone.

    CONTRACT for the outer variants: the preserved side's id must be a
    UNIQUE key. With duplicate ids the anti-join removes every copy once
    ANY copy matches (a spatially-unmatched duplicate would vanish,
    where SQL LEFT JOIN keeps it) — same caveat class as asof_join's
    unique-(by, ts) requirement. NULL ids are handled (null-safe
    anti-join), but a null id can only name one row for the same reason.
    """
    _check_how(
        "points_in_polygons_join", how, points, point_id, polygons, poly_id,
        ("point_id", "poly_id"),
    )

    def res_of(dims):
        return np.full(len(dims), _p95_res(dims) if res == "auto" else int(res))

    inner = _pip_probe_join(points, polygons, res_of, point_geom, poly_geom, lonlat_cols)
    return _outer(inner, how, points, polygons, point_id, poly_id)


def within_distance_join(
    points: DataFrame,
    centers: DataFrame,
    radius: float,
    res: int = 6,
    lonlat_cols: tuple[str, str] = ("lon", "lat"),
    center_lonlat_cols: tuple[str, str] = ("clon", "clat"),
) -> DataFrame:
    """ST_DWithin-style distance join in planar degrees: every
    (point, center) pair with Euclidean lon/lat distance <= radius
    (the J4 city-buffer class, reference db.py:236-245, expressed as a
    distance predicate instead of a materialized buffer polygon).

    Fully JVM-side: each center covers its radius-bbox with cells
    (pure Catalyst sequence fan-out), points map to one cell, the
    equi-join + sqrt(dx*dx+dy*dy) <= radius refine are whole-stage
    codegen — ZERO Python stages, so the oracle's identical IEEE754
    chain reproduces it exactly. For the metres variant, buffer through
    geo_udfs.buffer_point + points_in_polygons_join (J4's tested path).
    """
    lon_c, lat_c = lonlat_cols
    clon_c, clat_c = center_lonlat_cols
    r = geo_udfs.sql_double(radius)
    cov = geo_udfs.cover_cells_bbox_text(
        f"{clon_c} - {r}", f"{clat_c} - {r}", f"{clon_c} + {r}", f"{clat_c} + {r}", res
    )
    cen = centers.selectExpr("*", f"explode({cov}) AS _cell")
    pts = points.selectExpr("*", f"{geo_udfs.cell_of_xy_text(lon_c, lat_c, res)} AS _cell")
    cand = pts.join(F.broadcast(cen), on="_cell", how="inner")
    dx, dy = f"({lon_c} - {clon_c})", f"({lat_c} - {clat_c})"
    return cand.filter(f"sqrt({dx} * {dx} + {dy} * {dy}) <= {r}").drop("_cell")


def points_in_polygons_join_multires(
    points: DataFrame,
    polygons: DataFrame,
    resolutions: tuple[int, ...] = (4, 6, 8),
    point_geom: str = "geom",
    poly_geom: str = "geom",
    lonlat_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """PIP join with PER-GEOMETRY resolution (SURVEY §4 item 1, the
    full answer beyond the global ``res='auto'`` pick): each polygon
    covers itself at the coarsest resolution in ``resolutions`` whose
    cells still bound fan-out (~``TARGET_CELLS`` per geometry via
    cells.choose_res), so continent-size and scene-size geometries
    coexist in ONE join with bounded cover size for both.

    Same index probe as ``points_in_polygons_join`` (and the same one
    eager collect): the cell id packs the resolution into the high bits
    (res<<58|ix<<29|iy, geo/cells), so cells at different resolutions
    can NEVER collide and one sorted index holds every polygon's cover
    at its own resolution. A point probes its cell at each resolution
    some polygon uses; a (point, polygon) pair meets at exactly the
    polygon's single resolution: no pair dedup needed.
    """
    res_list = sorted(set(int(r) for r in resolutions))

    def res_of(dims):
        return np.array(
            [res_list[0] if np.isnan(d) else _snap_res(d, res_list) for d in dims], dtype=np.int64
        )

    return _pip_probe_join(points, polygons, res_of, point_geom, poly_geom, lonlat_cols)


def _disambiguate_right_geom(
    left: DataFrame, right: DataFrame, left_geom: str, right_geom: str
) -> tuple[DataFrame, str]:
    """When both sides name their geometry column identically, the
    post-join refine's ``F.col(geom)`` would raise AMBIGUOUS_REFERENCE.
    Rename the right side's geometry to ``<name>_right`` internally (the
    output keeps that name — callers joining a table to itself get
    distinct geometry columns for free)."""
    if left_geom != right_geom:
        return right, right_geom
    new = f"{right_geom}_right"
    if new in right.columns or new in left.columns:
        raise ValueError(
            f"intersects_join: cannot disambiguate geometry column "
            f"{right_geom!r}; column {new!r} already exists"
        )
    return right.withColumnRenamed(right_geom, new), new


def intersects_join_multires(
    left: DataFrame,
    right: DataFrame,
    resolutions: tuple[int, ...] = (4, 6, 8),
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """Polygon x polygon intersects join with PER-GEOMETRY resolution —
    the area-by-area sibling of points_in_polygons_join_multires (J15):
    continent-size and scene-size polygons meet in ONE equi-join with
    bounded cover fan-out on BOTH sides.

    Pairing across levels: each geometry picks the coarsest listed
    resolution bounding its bbox-cover fan-out (one Arrow stage emits
    bbox + chosen res), then emits its BBOX cover at its own level AND
    at every coarser listed level (the ancestor sets — derived in pure
    Catalyst from the bbox, no extra Python; a bbox cover's ancestor set
    IS the bbox cover at the coarser res). Cell ids carry the res in
    their high bits, so one int64 equi-join spans all levels. A pair
    with resolutions (rl, rr) meets ONLY at min(rl, rr): rows at
    coarser common levels are ancestor-vs-ancestor and are rejected by
    the `is_cover on at least one side` filter, and within the meeting
    level the SW-reference-point rule (evaluated AT that level) keeps
    exactly one cell — no pair-dedup shuffle anywhere.

    If ``left_geom == right_geom`` the right side's geometry column is
    renamed to ``<name>_right`` in the output (see
    ``_disambiguate_right_geom``).
    """
    right, right_geom = _disambiguate_right_geom(left, right, left_geom, right_geom)
    res_list = sorted(set(int(r) for r in resolutions))

    @pandas_udf(T.StructType([
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("res", T.IntegerType()),
    ]))
    def _br(geom: pd.Series) -> pd.DataFrame:
        from pda_spark.geo import kernels

        from pda_spark.functions.geo_udfs import _decode_cache

        get = _decode_cache()
        bbs, rss = [], []
        for buf in geom:
            bb = kernels.bbox(get(buf))
            bbs.append(list(bb))
            rss.append(_snap_res(max(bb[2] - bb[0], bb[3] - bb[1]), res_list))
        return pd.DataFrame({"bbox": bbs, "res": rss})

    def emit(df, geom, bb_col, cov_col):
        keep = _cols(df)
        df = df.withColumn("_br", _br.asNondeterministic()(geom))
        df = df.selectExpr(*keep, f"_br.bbox AS {bb_col}", "_br.res AS _res")

        def level_emit(rm: int) -> str:
            arr = geo_udfs.cover_cells_bbox_text(
                f"{bb_col}[0]", f"{bb_col}[1]", f"{bb_col}[2]", f"{bb_col}[3]", rm
            )
            tagged = f"transform({arr}, _lc -> struct(_lc AS cell, ({rm} = _res) AS is_cover))"
            # emit this level only for geometries at least as fine as it
            return f"slice({tagged}, 1, CASE WHEN _res >= {rm} THEN size({tagged}) ELSE 0 END)"

        per_level = ", ".join(level_emit(rm) for rm in res_list)
        df = df.selectExpr("*", f"explode(concat({per_level})) AS _e")
        return df.selectExpr(*keep, bb_col, "_e.cell AS _cell", f"_e.is_cover AS {cov_col}")

    lb, rb = "_lbb", "_rbb"
    lft = emit(left, left_geom, lb, "_lcov")
    rgt = emit(right, right_geom, rb, "_rcov")
    cand = lft.join(F.broadcast(rgt), on="_cell", how="inner")
    # meeting level: at least one side's row is its REAL cover
    cand = cand.filter("_lcov OR _rcov")
    # SW-reference-point dedup evaluated at the meeting level (the res
    # lives in the cell id's high bits)
    ref_lon, ref_lat = f"greatest({lb}[0], {rb}[0])", f"greatest({lb}[1], {rb}[1])"
    level = "CAST(shiftright(_cell, 58) AS INT)"
    ref_cell = None
    for rm in res_list:
        this = geo_udfs.cell_of_xy_text(ref_lon, ref_lat, rm)
        ref_cell = (
            this if ref_cell is None else f"CASE WHEN {level} = {rm} THEN {this} ELSE {ref_cell} END"
        )
    cand = cand.filter(f"_cell = ({ref_cell})")
    cand = cand.filter(_bboxes_overlap(lb, rb))
    refined = cand.filter(geo_udfs.intersects_pair(left_geom, right_geom))
    return refined.drop("_cell", "_lcov", "_rcov", lb, rb)


def intersects_join(
    left: DataFrame,
    right: DataFrame,
    res: int | str = 6,
    left_geom: str = "geom",
    right_geom: str = "geom",
    salt: int = 1,
    how: str = "inner",
    left_id: str | None = None,
    right_id: str | None = None,
    refine: str = "kernel",
) -> DataFrame:
    """Polygon x polygon ST_Intersects join with shuffle-free pair dedup.

    ``refine``: "kernel" (default) runs the exact polygon-pair Arrow
    predicate on every bbox-overlapping candidate. "bbox-exact" is for
    callers whose BOTH geometry columns are axis-aligned rectangles
    (tiles, box footprints — geometry == its own bbox): there the
    JVM bbox-overlap prefilter IS ST_Intersects, exactly, so the
    Python refine leg — and the candidate-pair Arrow shipping, ~600 MB
    for q45's 2.4M pairs at sf1.0 — is skipped. EXACT only under that
    contract; passing it for non-rectangles silently over-matches.

    Reproduces the reference's viewonly ST_Intersects relationships
    (db.py:116-122, 219-224). Both sides explode to covering cells; the
    reference-point rule keeps exactly one candidate per pair before the
    exact refine.

    ``res="auto"``: the resolution comes from bbox samples of BOTH sides
    at the coarser (larger-extent) side's choice — the side with big
    geometries is the one whose cover fan-out must stay bounded; the
    other side still covers >= 1 cell per geometry. Two small eager
    probe jobs.

    ``how``: 'inner' (default), 'left' / 'right' keep the geometries of
    that side that intersect nothing, other side's columns null — the
    same null-safe anti-join backfill (and the same UNIQUE-id contract)
    as points_in_polygons_join; requires ``left_id`` / ``right_id``.

    If ``left_geom == right_geom`` the right side's geometry column is
    renamed to ``<name>_right`` in the output (see
    ``_disambiguate_right_geom``).
    """
    right, right_geom = _disambiguate_right_geom(left, right, left_geom, right_geom)
    if refine not in ("kernel", "bbox-exact"):
        raise ValueError(f"intersects_join: refine={refine!r}; one of 'kernel', 'bbox-exact'")
    _check_how("intersects_join", how, left, left_id, right, right_id, ("left_id", "right_id"))
    if res == "auto":
        res = min(_auto_res(left, left_geom), _auto_res(right, right_geom))
    # NOTE: bbox (non-tight) covers are REQUIRED here: the reference-point
    # dedup keeps a pair only in the cell containing the SW corner of the
    # bbox intersection, and that cell is guaranteed to be in both covers
    # only for bbox covers. A tight cover could drop that cell and
    # silently lose the pair.
    # ONE Arrow stage per side (bbox decode); the bbox cover fans out as
    # a codegen'd Catalyst expression — chaining a second cover UDF after
    # bbox_arr costs a second Python worker per task (CLAUDE.md lesson)
    lb, rb = "_lbb", "_rbb"

    def with_cover(df, geom, bb):
        df = df.withColumn(bb, geo_udfs.bbox_arr(geom))
        c = geo_udfs.cover_cells_bbox_text(f"{bb}[0]", f"{bb}[1]", f"{bb}[2]", f"{bb}[3]", res)
        return df.selectExpr("*", f"explode({c}) AS _cell")

    if refine == "bbox-exact":
        # no Python refine leg exists in this mode, so the exchange can
        # sit BEFORE the (single) bbox-cover Arrow stage and widen it
        # off the scan's skewed split count (q45: a 7-task cover stage
        # with a one-task tail was the remaining straggler)
        left = left.repartition(arrow_width(left))
    lft = with_cover(left, left_geom, lb)
    rgt = with_cover(right, right_geom, rb)
    lft = _salted(lft, salt, "big")
    rgt = _salted(rgt, salt, "small")
    keys = ["_cell", "_salt"] if salt > 1 else ["_cell"]
    if refine == "kernel":
        # Exchange between the bbox-cover stage and the refine stage:
        # without it the scan's split count caps the whole broadcast-join
        # pipeline (q45 ran its refine 7-wide at sf1.0) AND bbox_arr +
        # intersects_pair fuse into ONE task pipeline costing two python
        # workers per task (the chained-Arrow rule). The round-robin
        # splits them into two single-worker stages and widens the
        # refine (see session.arrow_width for the default).
        # bbox-exact mode has no Python refine leg — nothing to widen.
        lft = lft.repartition(arrow_width(lft))
    cand = lft.join(F.broadcast(rgt), on=keys, how="inner")

    # reference-point dedup: keep the pair only in the cell holding the
    # SW corner of the bbox intersection (clamped into the intersection,
    # which is non-empty for any candidate sharing a cell).
    ref_cell = geo_udfs.cell_of_xy_text(
        f"greatest({lb}[0], {rb}[0])", f"greatest({lb}[1], {rb}[1])", res
    )
    cand = cand.filter(f"_cell = ({ref_cell})")

    cand = cand.filter(_bboxes_overlap(lb, rb))
    if refine == "bbox-exact":
        # axis-aligned-rectangle contract: the bbox overlap above IS
        # ST_Intersects, so the candidate set is already exact
        refined = cand
    else:
        refined = cand.filter(geo_udfs.intersects_pair(left_geom, right_geom))
    drop = ["_cell", lb, rb] + (["_salt"] if salt > 1 else [])
    return _outer(refined.drop(*drop), how, left, right, left_id, right_id)


def knn_guard_meters(lon, lat, ring: int, res: int):
    """Sound lower bound (vectorized) on the planar EPSG:3035 distance
    from each query point to ANY point outside its Chebyshev cell ring.

    The naive degree-based guard (deg-gap x meters-per-degree) is unsound
    for the 'meters' metric: EPSG:3035 is LAEA about (10E, 52N) and planar
    distances are compressed radially by cos(c/2) < 1 (c = angular
    distance from the projection centre), so a true neighbour just outside
    the ring can be planar-closer than a geodesic bound admits. Sound
    chain used here (ellipsoidal LAEA = authalic-latitude map + spherical
    LAEA on radius RQ + a diag(D, 1/D) affine):

    1. outside the ring  =>  geodetic |dlat| >= ring*lat_step OR
       |dlon| >= ring*lon_step;
    2. authalic-sphere central angle c(p,q) >= ds_lb :=
       min(ring*lat_step*min(dbeta/dphi),
           2*arcsin(cos(beta_ext) * sin(ring*lon_step/2)));
    3. for p inside the cap c <= c_cap (any c_cap >= c_q): the planar
       segment stays in the planar disk (convex), whose preimage is the
       cap; min singular value of spherical LAEA on the cap is
       cos(c_cap/2), so planar >= RQ*ds_lb*cos(c_cap/2);
    4. for p outside the cap: planar >= rho(c_p)-rho(c_q) >=
       2*RQ*(sin(c_cap/2) - sin(c_q/2)) (rho is radially monotone);
    5. the diag(D, 1/D) affine scales every distance by >= min(D, 1/D).

    Soundness domain: longitudes within +-90 deg of the 10E projection
    centre (covers EPSG:3035's area of use with huge margin) — beyond it
    |dlon| can exceed 180 deg where step 2's sin() bound breaks down.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lat_step = np.radians(180.0 / (1 << res))
    lon_step = np.radians(360.0 / (1 << res))
    phi = np.radians(lat)
    beta = np.arcsin(np.clip(P._q_auth(phi) / P.QP, -1.0, 1.0))

    # lat-separated case (authalic gap >= geodetic gap * min slope)
    lat_lb = ring * lat_step * _DBDP_MIN
    # lon-separated case: the other point's latitude is within the ring's
    # lat band (else the lat case already bounds it)
    beta_ext = np.minimum(np.abs(beta) + ring * lat_step * _DBDP_MAX, np.radians(89.9))
    half_dlam = np.minimum(ring * lon_step, np.pi) / 2.0
    lon_lb = 2.0 * np.arcsin(np.clip(np.cos(beta_ext) * np.sin(half_dlam), 0.0, 1.0))
    ds_lb = np.minimum(lat_lb, lon_lb)

    # cap geometry about the projection centre (authalic sphere)
    dlam = np.radians(lon) - P.LON0
    s_half = np.sqrt(
        np.clip(
            np.sin((beta - P.BETA1) / 2.0) ** 2
            + P._CB1 * np.cos(beta) * np.sin(dlam / 2.0) ** 2,
            0.0,
            1.0,
        )
    )
    c_q = 2.0 * np.arcsin(s_half)
    c_ring = (ring + 1) * (lat_step * _DBDP_MAX + lon_step) * 1.01
    c_cap = np.minimum(c_q + c_ring, np.pi)
    g1 = P.RQ * ds_lb * np.cos(c_cap / 2.0)
    g2 = 2.0 * P.RQ * (np.sin(c_cap / 2.0) - np.sin(c_q / 2.0))
    return _DMIN * 0.999 * np.minimum(g1, np.maximum(g2, 0.0))


def knn_guard_geodesic(lon, lat, ring: int, res: int):
    """Sound lower bound (vectorized) on the great-circle distance from
    each query point to ANY point outside its Chebyshev cell ring —
    the 'geodesic' sibling of knn_guard_meters, directly on the
    geographic sphere (no projection, so the chain is two lines):

    A point outside the ring either
    1. sits in a lat row > ring away => |dlat| >= ring*lat_step, and the
       central angle is >= |dphi| always; or
    2. sits in a lon column > ring away (wrapped) with its latitude
       inside the ring's band (else case 1 bounds it), i.e.
       |phi_other| <= |phi| + (ring+1)*lat_step; haversine gives
       c >= 2*arcsin(cos(phi_ext) * sin(min(ring*lon_step, pi)/2)).

    Returned in metres on the authalic sphere (proj.RQ — the same
    radius distance_geodesic_lonlat uses), with a 0.999 slack factor
    against libm rounding.
    """
    lat = np.asarray(lat, dtype=np.float64)
    n = 1 << res
    lat_step = np.radians(180.0 / n)
    lon_step = np.radians(360.0 / n)
    phi = np.radians(lat)
    lat_lb = np.full(len(phi), ring * lat_step)
    if 2 * ring + 1 >= n:
        # the ring wraps EVERY lon column: no point is outside via
        # longitude, so case 2 is vacuous — dropping it matters near the
        # poles, where cos(phi_ext) -> 0 would otherwise pin the guard
        # at ~0 and exactness could never be certified
        return P.RQ * lat_lb * 0.999
    # clamp phi_ext at EXACTLY pi/2 (cos -> 0, lon bound -> 0): a cap
    # below |phi|+band (e.g. 89.99 deg) would be UNSOUND for queries in
    # that last sliver — soundness needs cos(phi)cos(phi_other) >=
    # cos^2(phi_ext), which requires phi_ext >= both. Near-polar queries
    # therefore certify only once the retry loop widens the ring to the
    # full wrap above (lat-only bound) — slower there, never wrong.
    phi_ext = np.minimum(np.abs(phi) + (ring + 1) * lat_step, np.pi / 2.0)
    half_dlam = np.minimum(ring * lon_step, np.pi) / 2.0
    lon_lb = 2.0 * np.arcsin(np.clip(np.cos(phi_ext) * np.sin(half_dlam), 0.0, 1.0))
    return P.RQ * np.minimum(lat_lb, lon_lb) * 0.999


def _init_guard_constants():
    grid = np.linspace(-np.pi / 2 + 1e-6, np.pi / 2 - 1e-6, 4001)
    betas = np.arcsin(np.clip(P._q_auth(grid) / P.QP, -1.0, 1.0))
    slopes = np.diff(betas) / np.diff(grid)
    return (
        float(np.min(slopes)) * 0.9999,
        float(np.max(slopes)) * 1.0001,
        min(P.D, 1.0 / P.D),
    )


_DBDP_MIN, _DBDP_MAX, _DMIN = _init_guard_constants()


def _observed_count(obs: Observation) -> int | None:
    """The ``n`` an Observation reported, or None when its subtree was
    optimized away (an input the optimizer proves empty): the action then
    completes the Observation with an empty row, which ``get`` cannot
    convert."""
    try:
        return obs.get["n"]
    except Py4JJavaError:
        return None


def _knn_xy(metric: str, lon, lat):
    """The plane a kNN metric measures in: EPSG:3035 metres
    (``proj.fwd``) for 'meters', lon/lat degrees for the others."""
    if metric == "meters":
        return P.fwd(lon, lat)
    return lon, lat


def _knn_dist(metric: str, ax, ay, bx, by):
    """Distance between points a and b given in ``_knn_xy(metric)``
    coordinates, point side first. One function per metric for both kNN
    plans, so they agree bit for bit: 'meters' planar ``hypot``,
    'degrees' ``sqrt(dx*dx + dy*dy)`` (the SQL oracle's op order),
    'geodesic' ``haversine_m`` on the authalic sphere."""
    if metric == "meters":
        return np.hypot(ax - bx, ay - by)
    if metric == "degrees":
        dx, dy = ax - bx, ay - by
        return np.sqrt(dx * dx + dy * dy)
    return geo_udfs.haversine_m(ax, ay, bx, by, P.RQ)


def _ring_index(lon, lat, ring: int, res: int, metric: str) -> tuple[list, np.ndarray]:
    """Each query point's Chebyshev ``ring`` of cells at ``res`` and its
    guard: a lower bound on the ``metric`` distance to any point outside
    that ring (``knn_guard_*``; for degrees, any point outside differs by
    >= ring*lat_step in lat or >= ring*lon_step = 2*lat_step in lon)."""
    base = C.cell_of(lon, lat, res)
    cells = [C.ring(int(b), ring) for b in base]
    if metric == "degrees":
        guard = np.full(len(base), ring * 180.0 / (1 << res))
    elif metric == "geodesic":
        guard = knn_guard_geodesic(lon, lat, ring, res)
    else:
        guard = knn_guard_meters(lon, lat, ring, res)
    return cells, guard


def _knn_pairs(px, py, rows, owner, qx, qy, metric: str, k: int):
    """The chunk's (row, owner, distance) candidates that can still be in
    their query's top k: every candidate whose distance is <= the k-th
    smallest of its query in the chunk, ties included (a query with
    fewer than k candidates, or a NaN k-th distance, keeps them all)."""
    d = _knn_dist(metric, px[rows], py[rows], qx[owner], qy[owner])
    order = np.lexsort((d, owner))
    rows, owner, d = rows[order], owner[order], d[order]
    first = np.r_[0, np.flatnonzero(np.diff(owner)) + 1]
    size = np.diff(np.r_[first, len(owner)])
    kth = np.repeat(d[first + np.minimum(size, k) - 1], size)
    keep = (d <= kth) | np.isnan(kth) | (np.arange(len(d)) - np.repeat(first, size) < k)
    return rows[keep], owner[keep], d[keep]


def _knn_pass(batches, coords, res, keys, owners, qx, qy, metric, k, qbatch, guard, chunk):
    """The kNN probe over a partition's Arrow batches: each surviving
    (point row, query row) candidate with the query's columns, its
    ``_guard`` and ``dist_m``."""
    for batch in batches:
        lon, lat = _batch_lonlat(batch, *coords)
        # projected once per point, then gathered per pair
        px, py = _knn_xy(metric, lon, lat)
        found = [
            _knn_pairs(px, py, r, o, qx, qy, metric, k)
            for r, o in _probe_chunks(lon, lat, [res], keys, owners, chunk)
        ]
        if not found or not sum(len(f[0]) for f in found):
            continue
        rows, owner, dist = (np.concatenate([f[i] for f in found]) for i in range(3))
        q = qbatch.take(pa.array(owner))
        extra = dict(zip(q.schema.names, q.columns))
        extra.update(_guard=guard[owner], dist_m=dist)
        yield _take(batch, rows, extra)


def _knn_probe(
    points: DataFrame, queries: DataFrame, ring: int, *, k, res, metric, point_geom,
    query_geom, query_id, lonlat_cols, exact,
) -> tuple[DataFrame, int]:
    """The broadcast index kNN candidates (module docstring) at ``ring``:
    (the candidate rows — point columns, query columns, ``_guard``,
    ``dist_m`` — and the number of query rows). Collects the query side
    (one job); a NULL query point, or with ``exact`` a NULL id, raises
    ``ValueError`` naming the column before any other job."""
    qt = queries.toArrow()
    if qt.column(query_geom).null_count:
        raise ValueError(
            f"knn_join: query_geom column {query_geom!r} has NULL values; "
            "every query needs a point"
        )
    if exact and qt.column(query_id).null_count:
        raise ValueError(
            f"knn_join(exact=True): query_id column {query_id!r} has NULL values; "
            "exact answers need a non-NULL id per query"
        )
    qlon, qlat = wkb.decode_points_vec(qt.column(query_geom).to_pylist())
    cells, guard = _ring_index(qlon, qlat, ring, res, metric)
    keys, owners = _cell_index(cells)
    qx, qy = _knn_xy(metric, qlon, qlat)
    qbatch = pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in qt.columns], schema=qt.schema
    )
    coords, chunk = (point_geom, lonlat_cols), PROBE_CHUNK_PAIRS

    def probe(batches):
        return _knn_pass(
            batches, coords, res, keys, owners, qx, qy, metric, k, qbatch, guard, chunk
        )

    schema = T.StructType([
        *points.schema.fields, *queries.schema.fields,
        T.StructField("_guard", T.DoubleType()), T.StructField("dist_m", T.DoubleType()),
    ])
    return points.mapInArrow(probe, schema), qt.num_rows


def _knn_cell_join(
    points: DataFrame, queries: DataFrame, ring: int, *, res, metric, point_geom, query_geom,
    lonlat_cols,
) -> DataFrame:
    """The shuffled kNN candidates (``broadcast_queries=False``): the
    query side explodes its ring cells in one Arrow stage and a
    shuffled hash join on the cell id meets the points; same columns as
    ``_knn_probe``'s, every candidate kept."""

    @pandas_udf(T.StructType([
        T.StructField("cells", T.ArrayType(T.LongType())),
        T.StructField("guard", T.DoubleType()),
        T.StructField("qlon", T.DoubleType()),
        T.StructField("qlat", T.DoubleType()),
    ]))
    def _rc(geom: pd.Series) -> pd.DataFrame:
        lon, lat = wkb.decode_points_vec([bytes(b) for b in geom])
        cells, guard = _ring_index(lon, lat, ring, res, metric)
        return pd.DataFrame(
            {"cells": [c.tolist() for c in cells], "guard": guard, "qlon": lon, "qlat": lat}
        )

    @pandas_udf(T.DoubleType())
    def _dist(plon: pd.Series, plat: pd.Series, qlon: pd.Series, qlat: pd.Series) -> pd.Series:
        return pd.Series(_knn_dist(
            metric,
            *_knn_xy(metric, plon.to_numpy(), plat.to_numpy()),
            *_knn_xy(metric, qlon.to_numpy(), qlat.to_numpy()),
        ))

    p = _point_side(points, res, point_geom, lonlat_cols)
    keep = _cols(queries)
    # single evaluation per row: without the flag the 4 struct-field
    # reads each re-run the WKB decode + ring build (VERDICT r3)
    q = queries.withColumn("_rc", _rc.asNondeterministic()(query_geom))
    q = q.selectExpr("*", "_rc.guard AS _guard", "_rc.qlon AS _qlon", "_rc.qlat AS _qlat")
    q = q.selectExpr(*keep, "_guard", "_qlon", "_qlat", "explode(_rc.cells) AS _cell")
    cand = p.join(q, on="_cell", how="inner")
    if metric == "degrees":
        # _knn_dist's 'degrees' op order, as a Catalyst expression
        dist = F.expr(
            "sqrt((_plon - _qlon) * (_plon - _qlon) + (_plat - _qlat) * (_plat - _qlat))"
        )
    else:
        dist = _dist("_plon", "_plat", "_qlon", "_qlat")
    return cand.withColumn("dist_m", dist).drop("_cell", "_plon", "_plat", "_qlon", "_qlat")


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 7,
    point_geom: str = "geom",
    query_geom: str = "qgeom",
    query_id: str = "query_id",
    max_ring: int = 4,
    metric: str = "meters",
    tiebreak: str | None = None,
    exact: bool = True,
    max_retries: int = 3,
    lonlat_cols: tuple[str, str] | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """k nearest points for each query point (BASELINE north_star).

    Strategy: H3-style ring expansion — each query's candidates are the
    points in its cell neighbourhood (Chebyshev ring ``max_ring``), and
    a window ``row_number() over (partition by query_id order by dist,
    tiebreak)`` takes the top k (the reference has no kNN; SURVEY §2.3
    J10). Output: the points' columns, the queries' columns, ``dist_m``
    and ``knn_rank``.

    Default plan: the broadcast index probe of the module docstring.
    Building the join collects the query side (one eager job; it must
    fit in driver memory, as the broadcast it replaces had to), and one
    ``mapInArrow`` pass over the points computes each candidate's
    distance and keeps, per query, only the candidates that can still
    rank within the top k; the window runs on those survivors, so Spark
    still decides ties. A NULL ``query_geom`` raises ``ValueError``
    naming the column, and so does a NULL ``query_id`` with
    ``exact=True``, both before any further job.

    ``broadcast_queries=False`` switches to a shuffled hash join on the
    cell id — required when the query side itself is a large table (a
    collect of 10M queries x ring cells would not fit); both sides then
    partition by ``_cell`` and AQE handles skewed cells, and every
    candidate pair reaches the window.

    ``lonlat_cols``: pass (lon, lat) column names when the point table
    already carries plain coordinates; otherwise the point WKB is
    decoded. Points with a NULL or NaN coordinate match nothing.

    ``metric``: 'meters' (EPSG:3035 planar metres), 'degrees' (planar
    lon/lat Euclidean — SQL-oracle-friendly), or 'geodesic' (true
    great-circle metres on the authalic sphere — haversine; the metric
    real users reach for outside EPSG:3035's European domain).
    ``tiebreak`` optionally names a column for deterministic ordering
    among equal distances (default: the point coordinates).

    ``max_ring`` seeds the candidate search; with ``exact=True`` (default)
    the result is verified per query — a kNN answer is only exact when k
    candidates were found AND the k-th distance is inside the ring's
    guaranteed radius (``knn_guard_meters`` for metres — sound in
    projected space; ring*lat_step for degrees). The candidate result is
    localCheckpoint'ed so the guard check and the final consumer never
    re-execute the pass. The checkpoint's own job counts, through an
    ``Observation``, the complete answers (rows with a non-NULL id,
    ``knn_rank = k`` and ``dist_m`` below the guard); when that equals
    the number of query rows (known from the collect; observed on the
    query side in the shuffled plan) every query is exact and the call
    returns with no further job. Otherwise — an incomplete query, a
    duplicate id, or a subtree the optimizer removed as empty — the
    guard loop runs: incomplete queries re-run with a 4x wider ring, up
    to ``max_retries`` times (a driver-side loop that collects only the
    incomplete queries — bounded work at scale).
    """
    if metric not in ("meters", "degrees", "geodesic"):
        raise ValueError(f"knn_join: unknown metric {metric!r}")
    if max_ring < 1:
        # ring 0 would also break the retry loop (ring *= 4 keeps it 0)
        raise ValueError(f"knn_join: max_ring must be >= 1, got {max_ring}")
    if tiebreak:
        order = [tiebreak]
    elif lonlat_cols is not None:
        order = list(lonlat_cols)
    else:
        order = [point_geom]
    rank = (
        f"row_number() OVER (PARTITION BY {query_id} ORDER BY "
        + ", ".join(f"{c} ASC" for c in ["dist_m", *order])
        + ")"
    )
    kw = dict(res=res, metric=metric, point_geom=point_geom, query_geom=query_geom,
              lonlat_cols=lonlat_cols)

    def attempt(queries_df: DataFrame, ring: int) -> tuple[DataFrame, int | None]:
        if broadcast_queries:
            cand, n_rows = _knn_probe(
                points, queries_df, ring, k=k, query_id=query_id, exact=exact, **kw
            )
        else:
            cand, n_rows = _knn_cell_join(points, queries_df, ring, **kw), None
        ranked = cand.withColumn("knn_rank", F.expr(rank)).filter(f"knn_rank <= {k}")
        return ranked, n_rows

    if not exact:
        return attempt(queries, max_ring)[0].drop("_guard")

    # materialize once: the final consumer reads the checkpointed
    # candidates instead of re-executing the pass. The checkpoint's own
    # job counts the complete answers (and, in the shuffled plan, the
    # query rows inside the query side), so the common all-exact case
    # needs no further job.
    n_queries, n_complete = Observation(), Observation()
    first_q = queries if broadcast_queries else queries.observe(
        n_queries, F.count(F.lit(1)).alias("n")
    )
    result, n_rows = attempt(first_q, max_ring)
    complete_row = f"{query_id} IS NOT NULL AND knn_rank = {k} AND dist_m < _guard"
    result = result.observe(
        n_complete, F.expr(f"count(CASE WHEN {complete_row} THEN 1 END)").alias("n")
    ).localCheckpoint()
    complete = _observed_count(n_complete)
    if n_rows is None:
        n_rows = _observed_count(n_queries)
    if complete is not None and complete == n_rows:
        return result.drop("_guard")
    # NULL ids share one window partition and never match the complete-id
    # set, so no ring can certify them: fail before the first retry (the
    # probe plan checked its collected query table already)
    if not broadcast_queries and not queries.filter(F.col(query_id).isNull()).isEmpty():
        raise ValueError(
            f"knn_join(exact=True): query_id column {query_id!r} has NULL values; "
            "exact answers need a non-NULL id per query"
        )

    def incomplete_queries(res_df: DataFrame) -> DataFrame:
        # a query's answer is exact iff k candidates exist and the k-th
        # distance is within the ring's guaranteed radius. Queries with
        # ZERO candidates produce no group at all, so completeness is
        # checked against the query table (anti-join), not just the
        # groups present in the result.
        stats = res_df.groupBy(query_id).agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("dist_m").alias("_kth"),
            F.first("_guard").alias("_g"),
        )
        # STRICT < : when the k-th distance exactly equals the guard
        # radius, a point just outside the ring at the same distance could
        # win the deterministic tiebreak — treat boundary ties as
        # incomplete and expand the ring (ADVICE r2).
        ok = stats.filter((F.col("_n") >= k) & (F.col("_kth") < F.col("_g"))).select(query_id)
        return queries.select(query_id).join(ok, on=query_id, how="left_anti")

    ring = max_ring
    for _ in range(max_retries):
        # retries stay DataFrame-shaped (semi/anti joins on the bad-id
        # set, never collect + isin): with a large query table even 1%
        # incomplete would blow a literal IN-list
        bad = incomplete_queries(result).localCheckpoint()
        if bad.isEmpty():
            break
        ring *= 4
        redo = queries.join(bad, on=query_id, how="left_semi")
        fixed = attempt(redo, ring)[0]
        result = result.join(bad, on=query_id, how="left_anti").unionByName(fixed).localCheckpoint()
    else:
        n_left = incomplete_queries(result).count()
        if n_left:
            raise RuntimeError(
                f"knn_join: {n_left} queries still inexact after {max_retries} "
                f"ring expansions (final ring {ring}) — fewer than k={k} points "
                "may exist in reach; raise max_ring/max_retries or pass "
                "exact=False for best-effort answers"
            )
    return result.drop("_guard")


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius: float,
    res: int = 6,
    point_id_col: str = "point_id",
    lonlat_cols: tuple[str, str] = ("lon", "lat"),
    seg_id_cols: tuple[str, ...] = ("seg_id",),
    seg_cols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
) -> DataFrame:
    """Map matching (nearest-segment snap): assign each point to the
    CLOSEST line segment within ``radius`` (planar degrees, the q69
    metric) — the snap-GPS-to-road/river primitive (reference workload:
    observations onto network geometries; PostGIS idiom
    ST_ClosestPoint/ST_LineLocatePoint under a ST_DWithin guard).

    Shape: segments fan out to the cells of their radius-expanded bbox
    (pure Catalyst sequence fan-out, the within_distance_join pattern),
    points map to ONE cell, and the equi-join + point-to-segment
    distance + per-point argmin are all whole-stage codegen — zero
    Python stages, so an oracle replays the IEEE754 chain exactly.
    Each (point, segment) candidate pair meets exactly once (a point
    has one cell; a cover lists a cell once), and the argmin is a
    map-side-combinable min over a (d2, seg ids...) struct —
    lexicographic struct comparison IS the deterministic tiebreak
    (equal distances resolve to the smallest segment key in both
    engines). Points with no segment in range drop out (inner
    semantics; outer = left join back, the q65/q66 idiom).

    Point-to-segment math (one branch, replayable): t = clamp(dot/len2,
    0, 1) is the clamped projection parameter; d2 the squared distance
    to the clamped foot point. Degenerate zero-length segments take
    t = 0 (pure point distance).

    Returns (point_id, *seg_id_cols, snap_t, snap_d2) with snap_t /
    snap_d2 as raw doubles — gates round at the emit boundary.
    """
    lon_c, lat_c = lonlat_cols
    x0, y0, x1, y1 = seg_cols
    r_f = float(radius)
    r = geo_udfs.sql_double(r_f)
    cov = geo_udfs.cover_cells_bbox_text(
        f"least({x0}, {x1}) - {r}",
        f"least({y0}, {y1}) - {r}",
        f"greatest({x0}, {x1}) + {r}",
        f"greatest({y0}, {y1}) + {r}",
        res,
    )
    segs = segments.selectExpr("*", f"explode({cov}) AS _cell")
    pts = points.selectExpr("*", f"{geo_udfs.cell_of_xy_text(lon_c, lat_c, res)} AS _cell")
    cand = pts.join(F.broadcast(segs), on="_cell", how="inner")

    ex, ey = f"({x1} - {x0})", f"({y1} - {y0})"
    len2 = f"({ex} * {ex} + {ey} * {ey})"
    dot = f"(({lon_c} - {x0}) * {ex} + ({lat_c} - {y0}) * {ey})"
    t = f"(CASE WHEN {len2} > 0.0D THEN least(greatest({dot} / {len2}, 0.0D), 1.0D) ELSE 0.0D END)"
    dx, dy = f"({lon_c} - ({x0} + {t} * {ex}))", f"({lat_c} - ({y0} + {t} * {ey}))"
    d2 = f"({dx} * {dx} + {dy} * {dy})"
    best = ", ".join([f"{d2} AS d2", *seg_id_cols, f"{t} AS t"])
    scored = cand.selectExpr(point_id_col, f"struct({best}) AS _best").filter(
        f"_best.d2 <= {geo_udfs.sql_double(r_f * r_f)}"
    )
    won = scored.groupBy(point_id_col).agg(F.expr("min(_best) AS _w"))
    return won.selectExpr(
        point_id_col,
        *[f"_w.{c} AS {c}" for c in seg_id_cols],
        "_w.t AS snap_t",
        "_w.d2 AS snap_d2",
    )
