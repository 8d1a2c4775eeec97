"""Cell-index spatial joins: the engine's replacement for PostGIS GiST.

Reference semantics being reproduced:
- image x land_cover ST_Intersects join (/root/reference/database/db.py:116-122,
  used at app/query.py:126-129)
- country x image ST_Intersects (db.py:219-224, app/query.py:47)
- city-buffer x image distance join (db.py:236-245, app/query.py:98)
- kNN (BASELINE north_star; absent in reference, generalizes the above)

Physical strategy (Spark-first):
1. COVER   — each polygon explodes to its covering cells at resolution R
             (arrays built in one Arrow UDF, exploded JVM-side); points map
             to exactly one cell (fully vectorized, no per-geometry loop).
2. JOIN    — plain equi-join on ``cell``. If one side is a dimension table
             (countries ~241 rows, land cover ~2.4k), it is broadcast,
             so the fact side never shuffles. Otherwise it's a shuffled
             hash join on an int64 key, range-partitionable and
             AQE-skew-splittable.
3. DEDUP   — polygon x polygon covers overlap in many cells; duplicate
             pairs are eliminated *without a shuffle* by the reference-point
             rule: a pair is emitted only by the cell that contains the
             top-left corner of the bbox-intersection of the two geometries
             (pure Catalyst arithmetic, codegen'd filter).
4. REFINE  — exact kernel predicate (vectorized PIP / intersects) as an
             Arrow UDF filter.

Skew: pass ``salt=k`` to split hot cells: the big side gets a random salt
in [0,k), the small side is replicated k times (explode of a literal
array). AQE skew-join is also on (session.py) as a safety net.

Scale notes (100 TB): the only shuffle in the whole join is step 2's
equi-join, and it disappears when the polygon side broadcasts. Resolution
R trades fan-out (cells/geometry) against refine selectivity; for web-page
points x country polygons R=6..8 keeps dimension fan-out < 100k rows while
making candidate lists small.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pda_spark.functions import geo_udfs
from pda_spark.geo import cells as C
from pda_spark.session import arrow_width


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


def _auto_res(polygons: DataFrame, geom: str, target_cells: int = 4) -> int:
    """Pick the cell resolution from the data (SURVEY §4 item 1): sample
    polygon bboxes (bounded limit, not a full scan), take the p95 of the
    per-geometry extent, and choose the resolution where that extent
    spans ~sqrt(target_cells) cells per axis (cells.choose_res). p95 —
    not the mean — so the LARGE geometries (country polygons joined
    against 1 km scenes, reference db.py:208-224 vs :103-122) are the
    ones whose fan-out is bounded; smaller geometries always cover >= 1
    cell and only get cheaper. Clamped to [2, 12]: below 2 everything
    lands in a handful of world-size cells, above 12 point cells are
    already street-scale. One small eager job at plan-construction time
    (same pattern as dissolve's _auto_step)."""
    bb = polygons.select(geo_udfs.bbox_arr(F.col(geom)).alias("_bb")).limit(4096)
    row = bb.select(
        F.greatest(F.col("_bb")[2] - F.col("_bb")[0], F.col("_bb")[3] - F.col("_bb")[1]).alias("d")
    ).agg(F.percentile_approx("d", F.lit(0.95)).alias("d")).first()
    dim = float(row["d"]) if row is not None and row["d"] is not None else 0.0
    if dim <= 0.0:
        return 12  # point-like sample: finest clamped res
    return int(min(max(C.choose_res(dim, target_cells), 2), 12))


def points_in_polygons_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int | str = 7,
    point_geom: str = "geom",
    poly_geom: str = "geom",
    broadcast_polygons: bool = True,
    salt: int = 1,
    how: str = "inner",
    lonlat_cols: tuple[str, str] | None = None,
    point_id: str | None = None,
    poly_id: str | None = None,
) -> DataFrame:
    """ST_Contains/ST_Intersects join of a large point table against a
    polygon table. Columns of both inputs are preserved; clashing names
    must be disambiguated by the caller beforehand.

    ``lonlat_cols``: pass (lon, lat) column names if the point table
    already carries plain coordinates. Cell assignment and the bbox
    prefilter then run as pure Catalyst expressions and the exact PIP
    refine is the ONLY Python stage in the plan. This matters: every
    chained Arrow UDF adds a python worker per task (JVM->py->JVM hops),
    and deep UDF pipelines stop scaling with cores. Without lonlat_cols
    one combined UDF decodes WKB to (cell, lon, lat) in a single pass.

    ``res="auto"`` derives the resolution from a bounded bbox sample of
    the polygon side (see ``_auto_res``) — one small eager probe job.

    ``how``: 'inner' (default), 'left' (keep points with no containing
    polygon, polygon columns null — requires ``point_id``), or 'right'
    (keep polygons containing no point, point columns null — requires
    ``poly_id``; the reference dashboard's "cities with zero images"
    ask, app/query.py:94-105 keeps only matched cities). Outer variants
    backfill via one anti-join on the preserved side's id against the
    matched-id set — no change to the candidate/refine pipeline, and the
    matched-id projection is column-pruned to the id alone.

    CONTRACT for the outer variants: the preserved side's id must be a
    UNIQUE key. With duplicate ids the anti-join removes every copy once
    ANY copy matches (a spatially-unmatched duplicate would vanish,
    where SQL LEFT JOIN keeps it) — same caveat class as asof_join's
    unique-(by, ts) requirement. NULL ids are handled (null-safe
    anti-join), but a null id can only name one row for the same reason.
    """
    if how not in ("inner", "left", "right"):
        raise ValueError(
            f"points_in_polygons_join: how={how!r} unsupported; "
            "one of 'inner', 'left', 'right'"
        )
    if how == "left" and (point_id is None or point_id not in points.columns):
        raise ValueError("points_in_polygons_join: how='left' requires point_id naming a point column")
    if how == "right" and (poly_id is None or poly_id not in polygons.columns):
        raise ValueError("points_in_polygons_join: how='right' requires poly_id naming a polygon column")
    if res == "auto":
        res = _auto_res(polygons, poly_geom)
    # tight cover is sound here: a point in a cell the polygon doesn't
    # touch cannot be inside the polygon.
    if lonlat_cols is not None:
        lon_c, lat_c = lonlat_cols
        pts = points.withColumns(
            {
                "_cell": geo_udfs.cell_of_xy_expr(F.col(lon_c), F.col(lat_c), res),
                "_plon": F.col(lon_c),
                "_plat": F.col(lat_c),
            }
        )
    else:
        pts = points.withColumn("_pc", geo_udfs.point_cell_lonlat(res)(F.col(point_geom)))
        pts = pts.withColumns(
            {"_cell": F.col("_pc.cell"), "_plon": F.col("_pc.lon"), "_plat": F.col("_pc.lat")}
        ).drop("_pc")
    # one fused decode on the polygon side: bbox + tight cover in a
    # single Python stage (chained UDFs would spin up two workers)
    pys = polygons.withColumn("_bc", geo_udfs.bbox_cover_struct(res, tight=True)(F.col(poly_geom)))
    pys = pys.withColumns(
        {"_pbb": F.col("_bc.bbox"), "_cell": F.explode(F.col("_bc.cells"))}
    ).drop("_bc")
    pts = _salted(pts, salt, "big")
    pys = _salted(pys, salt, "small")
    keys = ["_cell", "_salt"] if salt > 1 else ["_cell"]
    right = F.broadcast(pys) if broadcast_polygons else pys
    # NOTE (round-7 measured NON-fix): an exchange here (the
    # intersects_join pattern) made the PIP family SLOWER (q64 2.2 ->
    # 3.0 s, q44 1.7 -> 2.4 s at sf1.0): the bbox prefilter keeps the
    # PIP refine cheap, so the chained decode+refine pipeline on the
    # scan's few splits already saturates, and the exchange only adds a
    # WKB-payload shuffle. The exchange pays off only when the refine
    # dominates (intersects_join's polygon-pair kernel).
    cand = pts.join(right, on=keys, how="inner")
    # JVM-side bbox prefilter (whole-stage codegen) — the Python refine
    # then sees only near-hit candidates.
    cand = cand.filter(
        F.col("_plon").between(F.col("_pbb")[0], F.col("_pbb")[2])
        & F.col("_plat").between(F.col("_pbb")[1], F.col("_pbb")[3])
    )
    refined = cand.filter(
        geo_udfs.point_in_polygon_lonlat(F.col("_plon"), F.col("_plat"), F.col(poly_geom))
    )
    drop = ["_cell", "_plon", "_plat", "_pbb"] + (["_salt"] if salt > 1 else [])
    inner = refined.drop(*drop)
    if how == "inner":
        return inner
    # outer variants consume the inner result TWICE (the output union
    # and the matched-id set for the anti-join) — materialize it once
    # (lazy localCheckpoint) so the candidate join + Arrow refine don't
    # re-execute per consumer; at scale the inner rows are the dominant
    # output anyway, so this is one write the plan already implies
    inner = inner.localCheckpoint(eager=False)

    def backfill(preserved: DataFrame, id_col: str) -> DataFrame:
        # null-SAFE anti-join: a matched row with a NULL id must not
        # reappear in the backfill (plain left_anti treats NULL != NULL
        # and would emit the row twice — once matched, once null-padded)
        matched = inner.select(F.col(id_col).alias("_mid")).distinct()
        return preserved.join(
            matched, on=F.col(id_col).eqNullSafe(F.col("_mid")), how="left_anti"
        )

    if how == "left":
        missing = backfill(points, point_id)
        poly_nulls = [
            F.lit(None).cast(polygons.schema[c].dataType).alias(c) for c in polygons.columns
        ]
        return inner.unionByName(missing.select(*points.columns, *poly_nulls))
    missing = backfill(polygons, poly_id)
    pt_nulls = [F.lit(None).cast(points.schema[c].dataType).alias(c) for c in points.columns]
    return inner.unionByName(missing.select(*pt_nulls, *polygons.columns))


def within_distance_join(
    points: DataFrame,
    centers: DataFrame,
    radius: float,
    res: int = 6,
    lonlat_cols: tuple[str, str] = ("lon", "lat"),
    center_lonlat_cols: tuple[str, str] = ("clon", "clat"),
    broadcast_centers: bool = True,
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
    r = float(radius)
    cov = geo_udfs.cover_cells_bbox_expr(
        F.col(clon_c) - r, F.col(clat_c) - r, F.col(clon_c) + r, F.col(clat_c) + r, res
    )
    cen = centers.withColumn("_cell", F.explode(cov))
    pts = points.withColumn("_cell", geo_udfs.cell_of_xy_expr(F.col(lon_c), F.col(lat_c), res))
    rhs = F.broadcast(cen) if broadcast_centers else cen
    cand = pts.join(rhs, on="_cell", how="inner")
    dx = F.col(lon_c) - F.col(clon_c)
    dy = F.col(lat_c) - F.col(clat_c)
    return cand.filter(F.sqrt(dx * dx + dy * dy) <= F.lit(r)).drop("_cell")


def points_in_polygons_join_multires(
    points: DataFrame,
    polygons: DataFrame,
    resolutions: tuple[int, ...] = (4, 6, 8),
    point_geom: str = "geom",
    poly_geom: str = "geom",
    broadcast_polygons: bool = True,
    lonlat_cols: tuple[str, str] | None = None,
    target_cells: int = 4,
) -> DataFrame:
    """PIP join with PER-GEOMETRY resolution (SURVEY §4 item 1, the
    full answer beyond the global ``res='auto'`` sample): each polygon
    covers itself at the coarsest resolution in ``resolutions`` whose
    cells still bound fan-out (~``target_cells`` per geometry via
    cells.choose_res), so continent-size and scene-size geometries
    coexist in ONE join with bounded cover size for both.

    The trick making this a single equi-join: the cell id packs the
    resolution into the high bits (res<<58|ix<<29|iy, geo/cells), so
    cells at different resolutions can NEVER collide — the point side
    just emits one cell per candidate resolution (explode of a small
    literal list, pure Catalyst when lonlat_cols) and joins on the one
    int64 column. A (point, polygon) pair meets at exactly the
    polygon's single resolution: no pair dedup needed. Point-side
    fan-out is bounded by len(resolutions); cells at a resolution no
    polygon used are immediate hash-miss rows in the (broadcast) join.
    """
    res_list = sorted(set(int(r) for r in resolutions))
    lo, hi = res_list[0], res_list[-1]

    @pandas_udf(T.StructType([
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("cells", T.ArrayType(T.LongType())),
        T.StructField("res", T.IntegerType()),
    ]))
    def _bc_auto(geom: pd.Series) -> pd.DataFrame:
        from pda_spark.functions.geo_udfs import _decode_cache, _geom_cover
        from pda_spark.geo import kernels

        get = _decode_cache()
        bbs, covers, rss = [], [], []
        for buf in geom:
            g = get(buf)
            bb = kernels.bbox(g)
            dim = max(bb[2] - bb[0], bb[3] - bb[1])
            want = C.choose_res(dim, target_cells)
            r = max(lo, min(hi, want))
            # snap DOWN to the nearest allowed resolution (coarser =>
            # fewer cells; never exceeds the fan-out target)
            r = max(x for x in res_list if x <= r)
            bbs.append(list(bb))
            covers.append(_geom_cover(g, r, tight=True))
            rss.append(r)
        return pd.DataFrame({"bbox": bbs, "cells": covers, "res": rss})

    pys = polygons.withColumn("_bc", _bc_auto.asNondeterministic()(F.col(poly_geom)))
    pys = pys.withColumns(
        {"_pbb": F.col("_bc.bbox"), "_cell": F.explode(F.col("_bc.cells"))}
    ).drop("_bc")

    if lonlat_cols is not None:
        lon_c, lat_c = lonlat_cols
        pts = points.withColumns({"_plon": F.col(lon_c), "_plat": F.col(lat_c)})
    else:
        pts = points.withColumn("_pc", geo_udfs.point_cell_lonlat(res_list[0])(F.col(point_geom)))
        pts = pts.withColumns(
            {"_plon": F.col("_pc.lon"), "_plat": F.col("_pc.lat")}
        ).drop("_pc")
    # one cell per resolution the polygon side can use; res lives in the
    # id's high bits, so this single column joins against every level
    pts = pts.withColumn(
        "_cell",
        F.explode(
            F.array(*[geo_udfs.cell_of_xy_expr(F.col("_plon"), F.col("_plat"), r) for r in res_list])
        ),
    )
    right = F.broadcast(pys) if broadcast_polygons else pys
    cand = pts.join(right, on="_cell", how="inner")
    cand = cand.filter(
        F.col("_plon").between(F.col("_pbb")[0], F.col("_pbb")[2])
        & F.col("_plat").between(F.col("_pbb")[1], F.col("_pbb")[3])
    )
    refined = cand.filter(
        geo_udfs.point_in_polygon_lonlat(F.col("_plon"), F.col("_plat"), F.col(poly_geom))
    )
    return refined.drop("_cell", "_plon", "_plat", "_pbb")


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
    broadcast_right: bool = True,
    target_cells: int = 4,
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
    lo, hi = res_list[0], res_list[-1]

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
            dim = max(bb[2] - bb[0], bb[3] - bb[1])
            r = max(lo, min(hi, C.choose_res(dim, target_cells)))
            r = max(x for x in res_list if x <= r)
            bbs.append(list(bb))
            rss.append(r)
        return pd.DataFrame({"bbox": bbs, "res": rss})

    def emit(df, geom, bb_col):
        df = df.withColumn("_br", _br.asNondeterministic()(F.col(geom)))
        df = df.withColumns(
            {bb_col: F.col("_br.bbox"), "_res": F.col("_br.res")}
        ).drop("_br")
        def level_emit(rm: int):
            # NOTE: the tag lambda must take exactly ONE parameter — a
            # two-arg lambda (e.g. the `rm=rm` default-capture idiom)
            # is interpreted by F.transform as (element, INDEX) and the
            # level constant silently becomes the array index
            arr = geo_udfs.cover_cells_bbox_expr(
                F.col(bb_col)[0], F.col(bb_col)[1], F.col(bb_col)[2], F.col(bb_col)[3], rm
            )
            tagged = F.transform(
                arr,
                lambda c: F.struct(
                    c.alias("cell"), (F.lit(rm) == F.col("_res")).alias("is_cover")
                ),
            )
            # emit this level only for geometries at least as fine as it
            return F.slice(
                tagged, 1,
                F.when(F.col("_res") >= rm, F.size(tagged)).otherwise(F.lit(0)),
            )

        per_level = [level_emit(rm) for rm in res_list]
        df = df.withColumn("_e", F.explode(F.concat(*per_level)))
        return df.withColumns(
            {"_cell": F.col("_e.cell"), "_is_cover": F.col("_e.is_cover")}
        ).drop("_e", "_res")

    lb, rb = "_lbb", "_rbb"
    lft = emit(left, left_geom, lb).withColumnRenamed("_is_cover", "_lcov")
    rgt = emit(right, right_geom, rb).withColumnRenamed("_is_cover", "_rcov")
    r = F.broadcast(rgt) if broadcast_right else rgt
    cand = lft.join(r, on="_cell", how="inner")
    # meeting level: at least one side's row is its REAL cover
    cand = cand.filter(F.col("_lcov") | F.col("_rcov"))
    # SW-reference-point dedup evaluated at the meeting level (the res
    # lives in the cell id's high bits)
    ref_lon = F.greatest(F.col(lb)[0], F.col(rb)[0])
    ref_lat = F.greatest(F.col(lb)[1], F.col(rb)[1])
    level = F.shiftright(F.col("_cell"), 58).cast("int")
    ref_cell = None
    for rm in res_list:
        this = geo_udfs.cell_of_xy_expr(ref_lon, ref_lat, rm)
        ref_cell = this if ref_cell is None else F.when(level == rm, this).otherwise(ref_cell)
    cand = cand.filter(F.col("_cell") == ref_cell)
    cand = cand.filter(
        (F.col(lb)[0] <= F.col(rb)[2])
        & (F.col(rb)[0] <= F.col(lb)[2])
        & (F.col(lb)[1] <= F.col(rb)[3])
        & (F.col(rb)[1] <= F.col(lb)[3])
    )
    refined = cand.filter(geo_udfs.intersects_pair(F.col(left_geom), F.col(right_geom)))
    return refined.drop("_cell", "_lcov", "_rcov", lb, rb)


def intersects_join(
    left: DataFrame,
    right: DataFrame,
    res: int | str = 6,
    left_geom: str = "geom",
    right_geom: str = "geom",
    broadcast_right: bool = True,
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
    if how not in ("inner", "left", "right"):
        raise ValueError(f"intersects_join: how={how!r} unsupported; one of 'inner', 'left', 'right'")
    if how == "left" and (left_id is None or left_id not in left.columns):
        raise ValueError("intersects_join: how='left' requires left_id naming a left column")
    if how == "right" and (right_id is None or right_id not in right.columns):
        raise ValueError("intersects_join: how='right' requires right_id naming a right column")
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
        df = df.withColumn(bb, geo_udfs.bbox_arr(F.col(geom)))
        c = geo_udfs.cover_cells_bbox_expr(
            F.col(bb)[0], F.col(bb)[1], F.col(bb)[2], F.col(bb)[3], res
        )
        return df.withColumn("_cell", F.explode(c))

    if broadcast_right and refine == "bbox-exact":
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
    r = F.broadcast(rgt) if broadcast_right else rgt
    if broadcast_right and refine == "kernel":
        # Exchange between the bbox-cover stage and the refine stage:
        # without it the scan's split count caps the whole broadcast-join
        # pipeline (q45 ran its refine 7-wide at sf1.0) AND bbox_arr +
        # intersects_pair fuse into ONE task pipeline costing two python
        # workers per task (the chained-Arrow rule). The round-robin
        # splits them into two single-worker stages and widens the
        # refine (see session.arrow_width for the default).
        # bbox-exact mode has no Python refine leg — nothing to widen.
        lft = lft.repartition(arrow_width(lft))
    cand = lft.join(r, on=keys, how="inner")

    # reference-point dedup: keep the pair only in the cell holding the
    # SW corner of the bbox intersection (clamped into the intersection,
    # which is non-empty for any candidate sharing a cell).
    ref_lon = F.greatest(F.col(lb)[0], F.col(rb)[0])
    ref_lat = F.greatest(F.col(lb)[1], F.col(rb)[1])
    cand = cand.filter(F.col("_cell") == geo_udfs.cell_of_xy_expr(ref_lon, ref_lat, res))

    # JVM-side bbox-overlap prefilter: two geometries can share a cell
    # without their bboxes overlapping each other — reject those before
    # the Python refine (codegen'd comparisons on the bbox arrays).
    cand = cand.filter(
        (F.col(lb)[0] <= F.col(rb)[2])
        & (F.col(rb)[0] <= F.col(lb)[2])
        & (F.col(lb)[1] <= F.col(rb)[3])
        & (F.col(rb)[1] <= F.col(lb)[3])
    )
    if refine == "bbox-exact":
        # axis-aligned-rectangle contract: the bbox overlap above IS
        # ST_Intersects, so the candidate set is already exact
        refined = cand
    else:
        refined = cand.filter(
            geo_udfs.intersects_pair(F.col(left_geom), F.col(right_geom))
        )
    drop = ["_cell", lb, rb] + (["_salt"] if salt > 1 else [])
    inner = refined.drop(*drop)
    if how == "inner":
        return inner
    # same materialize-once + null-safe anti-join backfill as the PIP
    # join's outer variants (see points_in_polygons_join)
    inner = inner.localCheckpoint(eager=False)
    preserved, id_col, other = (
        (left, left_id, right) if how == "left" else (right, right_id, left)
    )
    matched = inner.select(F.col(id_col).alias("_mid")).distinct()
    missing = preserved.join(
        matched, on=F.col(id_col).eqNullSafe(F.col("_mid")), how="left_anti"
    )
    nulls = [F.lit(None).cast(other.schema[c].dataType).alias(c) for c in other.columns]
    if how == "left":
        return inner.unionByName(missing.select(*left.columns, *nulls))
    return inner.unionByName(missing.select(*nulls, *right.columns))


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
    import numpy as np

    from pda_spark.geo import proj as P

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
    import numpy as np

    from pda_spark.geo import proj as P

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
    import numpy as np

    from pda_spark.geo import proj as P

    grid = np.linspace(-np.pi / 2 + 1e-6, np.pi / 2 - 1e-6, 4001)
    betas = np.arcsin(np.clip(P._q_auth(grid) / P.QP, -1.0, 1.0))
    slopes = np.diff(betas) / np.diff(grid)
    return (
        float(np.min(slopes)) * 0.9999,
        float(np.max(slopes)) * 1.0001,
        min(P.D, 1.0 / P.D),
    )


_DBDP_MIN, _DBDP_MAX, _DMIN = _init_guard_constants()


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

    ``broadcast_queries=False`` switches the candidate join to a shuffled
    hash join on the cell id — required when the query side itself is a
    large table (a broadcast of 10M queries x ring cells would not fit);
    both sides then partition by ``_cell`` and AQE handles skewed cells.

    Strategy: H3-style ring expansion — each query joins candidate points
    in its cell neighbourhood (Chebyshev ring ``max_ring``), distances are
    refined per candidate, and a window ``row_number() over (partition by
    query_id order by dist)`` takes the top k (the reference has no kNN;
    SURVEY §2.3 J10).

    ``lonlat_cols``: pass (lon, lat) column names when the point table
    already carries plain coordinates — cell assignment then runs as a
    pure Catalyst expression and (for metric='degrees') the whole point
    leg is Python-free; metric='meters' keeps exactly one Arrow stage
    (projection) over plain doubles, no WKB decode.

    ``metric``: 'meters' (EPSG:3035 planar metres), 'degrees' (planar
    lon/lat Euclidean — SQL-oracle-friendly), or 'geodesic' (true
    great-circle metres on the authalic sphere — haversine; the metric
    real users reach for outside EPSG:3035's European domain).
    ``tiebreak`` optionally names a column for deterministic ordering
    among equal distances.

    ``max_ring`` seeds the candidate search; with ``exact=True`` (default)
    the result is verified per query — a kNN answer is only exact when k
    candidates were found AND the k-th distance is inside the ring's
    guaranteed radius (``knn_guard_meters`` for metres — sound in
    projected space; ring*lat_step for degrees). The candidate result is
    localCheckpoint'ed so the guard aggregation and the final consumer
    never re-execute the join DAG. Incomplete queries re-run with a 4x
    wider ring, up to ``max_retries`` times (a driver-side loop over an
    ever-smaller broadcast query set — bounded work at scale).
    """
    import numpy as np

    if metric not in ("meters", "degrees", "geodesic"):
        raise ValueError(f"knn_join: unknown metric {metric!r}")
    lat_step = 180.0 / (1 << res)

    def ring_cells_udf(ring: int):
        @pandas_udf(T.StructType([
            T.StructField("cells", T.ArrayType(T.LongType())),
            T.StructField("guard", T.DoubleType()),
            T.StructField("qlon", T.DoubleType()),
            T.StructField("qlat", T.DoubleType()),
        ]))
        def _rc(geom: pd.Series) -> pd.DataFrame:
            from pda_spark.geo import wkb as W

            lon, lat = W.decode_points_vec([bytes(b) for b in geom])
            base = C.cell_of(lon, lat, res)
            cells_out = [[int(c) for c in C.ring(int(b), ring)] for b in base]
            if metric == "degrees":
                # any point outside the ring differs by >= ring*lat_step
                # in lat or >= ring*lon_step (= 2*lat_step) in lon
                guard = np.full(len(base), ring * lat_step)
            elif metric == "geodesic":
                guard = knn_guard_geodesic(lon, lat, ring, res)
            else:
                guard = knn_guard_meters(lon, lat, ring, res)
            return pd.DataFrame({"cells": cells_out, "guard": guard, "qlon": lon, "qlat": lat})

        # single evaluation per row: without the flag the 4 struct-field
        # reads each re-run the WKB decode + ring build (VERDICT r3)
        return _rc.asNondeterministic()

    if lonlat_cols is not None:
        lon_c, lat_c = lonlat_cols
        p = points.withColumns(
            {
                "_cell": geo_udfs.cell_of_xy_expr(F.col(lon_c), F.col(lat_c), res),
                "_plon": F.col(lon_c),
                "_plat": F.col(lat_c),
            }
        )
    else:
        p = points.withColumn("_pc", geo_udfs.point_cell_lonlat(res)(F.col(point_geom)))
        p = p.withColumns(
            {"_cell": F.col("_pc.cell"), "_plon": F.col("_pc.lon"), "_plat": F.col("_pc.lat")}
        ).drop("_pc")

    order = [F.col("dist_m").asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    elif lonlat_cols is not None:
        order += [F.col("_plon").asc(), F.col("_plat").asc()]
    else:
        order.append(F.col(point_geom).asc())
    w = Window.partitionBy(query_id).orderBy(*order)

    def attempt(queries_df: DataFrame, ring: int) -> DataFrame:
        q = queries_df.withColumn("_rc", ring_cells_udf(ring)(F.col(query_geom)))
        q = q.withColumns(
            {"_guard": F.col("_rc.guard"), "_qlon": F.col("_rc.qlon"), "_qlat": F.col("_rc.qlat")}
        ).withColumn("_cell", F.explode(F.col("_rc.cells"))).drop("_rc")
        cand = p.join(F.broadcast(q) if broadcast_queries else q, on="_cell", how="inner")
        if metric == "degrees":
            dx = F.col("_plon") - F.col("_qlon")
            dy = F.col("_plat") - F.col("_qlat")
            # same IEEE754 op order as the SQL oracle's sqrt(dx*dx+dy*dy)
            cand = cand.withColumn("dist_m", F.sqrt(dx * dx + dy * dy))
        elif metric == "geodesic":
            cand = cand.withColumn(
                "dist_m",
                geo_udfs.distance_geodesic_lonlat()(
                    F.col("_plon"), F.col("_plat"), F.col("_qlon"), F.col("_qlat")
                ),
            )
        else:
            cand = cand.withColumn(
                "dist_m",
                geo_udfs.distance_m_lonlat()(
                    F.col("_plon"), F.col("_plat"), F.col("_qlon"), F.col("_qlat")
                ),
            )
        return (
            cand.withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
            .drop("_cell", "_qlon", "_qlat")
        )

    helper_cols = ["_guard", "_plon", "_plat"]
    if max_ring < 1:
        # ring 0 would also break the retry loop (ring *= 4 keeps it 0)
        raise ValueError(f"knn_join: max_ring must be >= 1, got {max_ring}")
    result = attempt(queries, max_ring)
    if not exact:
        return result.drop(*helper_cols)

    # materialize once: the guard aggregation and the final consumer read
    # the checkpointed candidates instead of re-executing the join DAG
    result = result.localCheckpoint()
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
        if bad.limit(1).count() == 0:
            break
        ring *= 4
        redo = queries.join(bad, on=query_id, how="left_semi")
        fixed = attempt(redo, ring)
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
    return result.drop(*helper_cols)


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius: float,
    res: int = 6,
    point_id_col: str = "point_id",
    lonlat_cols: tuple[str, str] = ("lon", "lat"),
    seg_id_cols: tuple[str, ...] = ("seg_id",),
    seg_cols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
    broadcast_segments: bool = True,
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
    from pda_spark.functions import geo_udfs

    lon_c, lat_c = lonlat_cols
    x0, y0, x1, y1 = seg_cols
    r = float(radius)
    cov = geo_udfs.cover_cells_bbox_expr(
        F.least(F.col(x0), F.col(x1)) - r,
        F.least(F.col(y0), F.col(y1)) - r,
        F.greatest(F.col(x0), F.col(x1)) + r,
        F.greatest(F.col(y0), F.col(y1)) + r,
        res,
    )
    segs = segments.withColumn("_cell", F.explode(cov))
    pts = points.withColumn(
        "_cell", geo_udfs.cell_of_xy_expr(F.col(lon_c), F.col(lat_c), res)
    )
    rhs = F.broadcast(segs) if broadcast_segments else segs
    cand = pts.join(rhs, on="_cell", how="inner")

    ex = F.col(x1) - F.col(x0)
    ey = F.col(y1) - F.col(y0)
    len2 = ex * ex + ey * ey
    dot = (F.col(lon_c) - F.col(x0)) * ex + (F.col(lat_c) - F.col(y0)) * ey
    t = F.when(len2 > F.lit(0.0), F.least(F.greatest(dot / len2, F.lit(0.0)), F.lit(1.0))).otherwise(
        F.lit(0.0)
    )
    qx = F.col(x0) + t * ex
    qy = F.col(y0) + t * ey
    dx = F.col(lon_c) - qx
    dy = F.col(lat_c) - qy
    d2 = dx * dx + dy * dy
    scored = cand.select(
        F.col(point_id_col),
        F.struct(
            d2.alias("d2"), *[F.col(c) for c in seg_id_cols], t.alias("t")
        ).alias("_best"),
    ).filter(F.col("_best.d2") <= F.lit(r * r))
    won = scored.groupBy(point_id_col).agg(F.min("_best").alias("_w"))
    return won.select(
        point_id_col,
        *[F.col(f"_w.{c}").alias(c) for c in seg_id_cols],
        F.col("_w.t").alias("snap_t"),
        F.col("_w.d2").alias("snap_d2"),
    )
