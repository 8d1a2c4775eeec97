"""Registry spatial queries: point-in-polygon, kNN, distance and intersects
joins, lengths, areas and buffers, dissolve and coverage, DBSCAN and map
matching.

Builders and oracle SQL follow the conventions stated in registry.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pda_spark.functions import geo_udfs
from pda_spark.geo import wkb as W
from pda_spark.operators import spatial_join
from pda_spark.plans.fixtures import (
    _box_table, BOXES, _boxes_cte, _cell_sql, _event_point_geoms, _event_points,
    _EVENT_POINTS_SQL, _image_rects, _IMAGE_RECTS_SQL, KNN_QUERIES, _KNN_QUERIES_VALUES,
    _knn_query_table, _landcover_rects, _LANDCOVER_RECTS_SQL, MIXED_BOXES, _mk_box, _mk_point,
    _mk_river_line, _mk_segment, _mk_staircase, _mk_staircase_dense, _part_rects, _rivers,
    _RIVERS_SQL, _RQ_REPR, _t, _topk_sql,
)


def q40_cell_assign(spark, sf_dir):
    """Tile/cell assignment via the pure-Catalyst cell expression —
    verifies the packed int64 cell arithmetic against plain SQL."""
    pts = _event_points(spark, sf_dir)
    res = 7
    return (
        pts.withColumn("cell", geo_udfs.cell_of_xy_expr("lon", "lat", res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


Q40_SQL = f"""
SELECT {_cell_sql(7)} AS cell, count(*) AS n_points
FROM ({_EVENT_POINTS_SQL})
GROUP BY 1
"""


def q41_pip_join(spark, sf_dir):
    """Point-in-polygon join through the full WKB + cell-index machinery;
    the oracle reduces to range predicates (boxes are axis-aligned)."""
    pts = _event_point_geoms(spark, sf_dir)
    boxes = _box_table(spark)
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res=7, point_geom="geom", poly_geom="box_geom", lonlat_cols=("lon", "lat")
    )
    return joined.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points"))


def _pip_counts_sql(boxes) -> str:
    """Oracle of the per-box point count: a range join over `boxes`."""
    return f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
{_boxes_cte(boxes)}
SELECT box_id, count(*) AS n_points
FROM pts JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY box_id
"""


Q41_SQL = _pip_counts_sql(BOXES)


def q42_knn(spark, sf_dir):
    """kNN via cell-ring expansion + window top-k (north_star operator);
    planar-degree metric so DuckDB can verify exactly."""
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    queries = _knn_query_table(spark)
    # res=8 (was 6): the exactness guard makes results independent of the
    # seed resolution, but candidate volume is not — res-6 cells hold
    # ~16k points each at sf1.0, so ring 2 fanned ~6.4M candidates into
    # the per-query window; res-8 cells cut that 16x for identical output
    # (the retry loop widens the ring at tiny SFs where 25 finer cells
    # hold < k points)
    out = spatial_join.knn_join(
        pts, queries, k=5, res=8, point_geom="geom", query_geom="qgeom",
        query_id="query_id", max_ring=2, metric="degrees", tiebreak="event_id",
        lonlat_cols=("lon", "lat"),
    )
    return out.select(
        "query_id", "event_id", F.round("dist_m", 6).alias("dist"), F.col("knn_rank").alias("rank")
    )


Q42_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
queries(query_id, qlon, qlat) AS (
  VALUES {_KNN_QUERIES_VALUES}
), scored AS (
  SELECT query_id, event_id,
         sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)) AS d
  FROM pts CROSS JOIN queries
)
{_topk_sql("query_id, event_id, round(d, 6) AS dist", "query_id", "d ASC, event_id ASC", 5)}"""


def q78_knn_geodesic(spark, sf_dir):
    """Geodesic kNN (J13 driver gate — VERDICT r4 #4): the same
    cell-ring expansion as q42 but with metric='geodesic' (true
    great-circle metres on the authalic sphere, haversine as in
    geo_udfs.haversine_m / spatial_join.py:501-544). Haversine is pure
    libm arithmetic, so the DuckDB oracle replays the identical
    2*R*asin(sqrt(...)) op sequence; distances rounded to 6 (micrometre
    precision — ulp at ~1e6 m is ~1e-10, no boundary risk on fixed
    synthetic coordinates)."""
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    queries = _knn_query_table(spark)
    # res=8 for the same candidate-volume reason as q42 (identical
    # results via the exactness guard); here it also cuts the haversine
    # Arrow stage's input 16x
    out = spatial_join.knn_join(
        pts, queries, k=5, res=8, point_geom="geom", query_geom="qgeom",
        query_id="query_id", max_ring=2, metric="geodesic", tiebreak="event_id",
        lonlat_cols=("lon", "lat"),
    )
    return out.select(
        "query_id", "event_id", F.round("dist_m", 6).alias("dist_m"),
        F.col("knn_rank").alias("rank"),
    )


Q78_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
queries(query_id, qlon, qlat) AS (
  VALUES {_KNN_QUERIES_VALUES}
), scored AS (
  SELECT query_id, event_id,
         2.0 * CAST({_RQ_REPR} AS DOUBLE) * asin(sqrt(least(greatest(
             pow(sin((radians(lat) - radians(qlat)) / 2.0), 2)
             + cos(radians(qlat)) * cos(radians(lat))
               * pow(sin((radians(lon) - radians(qlon)) / 2.0), 2),
         0.0), 1.0))) AS d
  FROM pts CROSS JOIN queries
)
{_topk_sql("query_id, event_id, round(d, 6) AS dist_m", "query_id", "d ASC, event_id ASC", 5)}"""


def q43_bbox_area(spark, sf_dir):
    """WKB encode/decode + shoelace area vs plain rectangle arithmetic."""
    return _part_rects(spark, sf_dir).select(
        "p_partkey", F.round(geo_udfs.area_planar(F.col("geom")), 9).alias("area_deg2")
    )


Q43_SQL = """
SELECT p_partkey,
       round((p_size / 10.0 + 0.1) * ((p_partkey % 5) / 10.0 + 0.2), 9) AS area_deg2
FROM part WHERE p_partkey % 7 = 0
"""


def q79_buffer_area(spark, sf_dir):
    """ST_Buffer gate (F5 completion — VERDICT r4 #6): rectangles from
    the q43 fixture offset by d=0.35 in planar coordinates through the
    Minkowski capsule union (kernels.buffer_polys on the scanline
    kernel). For a rectangle the buffered area has the closed form
    w*h + 2d(w+h) + 16*sin(pi/16)*d^2 exactly (the quarter 32-gon corner
    fans align with quadrant boundaries), so DuckDB replays it as pure
    arithmetic; round 4 leaves ~9 orders of magnitude of margin over the
    scanline-vs-closed-form float drift (~1e-13 relative)."""
    d = 0.35
    # post-shuffle spread of the Arrow kernel stage (the q82 pattern):
    # the part scan is one sub-4MB split, so without this the whole
    # capsule-union kernel runs in ONE python worker (9.4 s at sf1.0 in
    # BENCH_r06 — the same single-split cause as q32/q82 in round 6)
    from pda_spark.session import spread

    return spread(_part_rects(spark, sf_dir)).select(
        "p_partkey",
        F.round(geo_udfs.buffer_area_planar(d)(F.col("geom")), 4).alias("buf_area"),
    )


Q79_SQL = """
SELECT p_partkey,
       round((p_size / 10.0 + 0.1) * ((p_partkey % 5) / 10.0 + 0.2)
             + 2 * 0.35 * ((p_size / 10.0 + 0.1) + ((p_partkey % 5) / 10.0 + 0.2))
             + 16 * sin(pi() / 16) * 0.35 * 0.35, 4) AS buf_area
FROM part WHERE p_partkey % 7 = 0
"""


def q82_erosion_area(spark, sf_dir):
    """ST_Buffer with NEGATIVE distance (inward offset / erosion):
    |erode(A,d)| = |A| - |A ∩ boundary-capsules| on the scanline kernel.
    Rectangle erosion has sharp corners, so the closed form
    (w-2d)(h-2d) is EXACT — no arc discretization term at all."""
    d = 0.05
    # post-shuffle spread of the Arrow kernel stage, as in q79: the part
    # scan is one sub-4MB split, so without this the whole erosion kernel
    # runs in ONE python worker (15 s at sf0.1)
    from pda_spark.session import spread

    return spread(_part_rects(spark, sf_dir)).select(
        "p_partkey",
        F.round(geo_udfs.buffer_area_planar(-d)(F.col("geom")), 6).alias("eroded_area"),
    )


Q82_SQL = """
SELECT p_partkey,
       round(((p_size / 10.0 + 0.1) - 0.1) * (((p_partkey % 5) / 10.0 + 0.2) - 0.1), 6)
         AS eroded_area
FROM part WHERE p_partkey % 7 = 0
"""


def q45_rect_intersects(spark, sf_dir):
    """Polygon x polygon intersects join through cover/dedup/refine —
    rectangles make the oracle a pure interval-overlap join. Exercises the
    reference-point dedup (no pair may appear twice)."""
    img = _image_rects(spark, sf_dir)
    lc = _landcover_rects(spark, sf_dir)
    # both sides are _mk_box axis-aligned rectangles by construction, so
    # the JVM bbox-overlap prefilter IS the exact ST_Intersects answer —
    # refine="bbox-exact" skips the 2.4M-pair Arrow refine leg (round 7)
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"), lc.select("lc_id", "lc_geom"),
        res=6, left_geom="geom", right_geom="lc_geom", refine="bbox-exact",
    )
    return pairs.groupBy("lc_id").agg(F.count(F.lit(1)).alias("n_images"))


def q95_contains_join(spark, sf_dir):
    """ST_Contains / ST_Within over the q45 rect fixture: intersecting
    pairs (same cover/dedup/refine join) flagged with containment in
    BOTH directions through the general polys_contains kernel
    (vertex-interior + no-crossing + hole-swallow tests); the oracle is
    strict interval containment — exact here because the lc fixture's
    .0013 offsets guarantee no img/lc boundary ever coincides."""
    img = _image_rects(spark, sf_dir)
    lc = _landcover_rects(spark, sf_dir)
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"), lc.select("lc_id", "lc_geom"),
        res=6, left_geom="geom", right_geom="lc_geom",
    )
    pairs = (
        pairs.select("img_id", "lc_id")
        .join(F.broadcast(img.select("img_id", "geom")), "img_id")
        .join(F.broadcast(lc.select("lc_id", "lc_geom")), "lc_id")
    )
    return pairs.select(
        "img_id", "lc_id",
        geo_udfs.contains_pred(F.col("geom"), F.col("lc_geom")).alias("img_contains_lc"),
        geo_udfs.contains_pred(F.col("lc_geom"), F.col("geom")).alias("lc_contains_img"),
    )


Q95_SQL = f"""
WITH img AS ({_IMAGE_RECTS_SQL}), lc AS ({_LANDCOVER_RECTS_SQL})
SELECT img_id, lc_id,
       (ix - ih < cx - ch AND cx + ch < ix + ih AND
        iy - ih < cy - ch AND cy + ch < iy + ih) AS img_contains_lc,
       (cx - ch < ix - ih AND ix + ih < cx + ch AND
        cy - ch < iy - ih AND iy + ih < cy + ch) AS lc_contains_img
FROM img JOIN lc
  ON ix - ih <= cx + ch AND cx - ch <= ix + ih
 AND iy - ih <= cy + ch AND cy - ch <= iy + ih
"""


def q96_intersects_multires(spark, sf_dir):
    """Polygon x polygon intersects with PER-GEOMETRY resolution
    (area-by-area multires — q70's J15 for region x region): BOTH sides
    mix continent-scale (~6-15 deg) and scene-scale (~0.2-1 deg) rects,
    each covering at its own level; one equi-join spans levels via the
    res-prefixed cell id, pairs meet exactly once (coarser side's level,
    SW-reference-point rule) — no dedup shuffle. Oracle: plain interval
    overlap over the same fixture."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(61)) == 0)
    big_a = F.pmod(F.col("o_orderkey"), F.lit(2)) == 0
    a = o.select(
        F.col("o_orderkey").alias("a_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(3000)) / 100.0 - 15.0).alias("cx"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(1800)) / 100.0 + 39.0).alias("cy"),
        F.when(big_a, F.pmod(F.col("o_orderkey"), F.lit(5)) + 3.0)
        .otherwise(F.pmod(F.col("o_orderkey"), F.lit(4)) / 10.0 + 0.1).alias("hh"),
    )
    a = a.withColumn("geom", _mk_box(F.col("cx") - F.col("hh"), F.col("cy") - F.col("hh"),
                                     F.col("cx") + F.col("hh"), F.col("cy") + F.col("hh")))
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(23)) == 0)
    big_b = F.pmod(F.col("p_partkey"), F.lit(2)) == 0
    b = p.select(
        F.col("p_partkey").alias("b_id"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(3000)) / 100.0 - 14.9987).alias("dx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(1800)) / 100.0 + 39.0013).alias("dy"),
        F.when(big_b, F.pmod(F.col("p_partkey"), F.lit(4)) + 2.5)
        .otherwise(F.pmod(F.col("p_partkey"), F.lit(6)) / 10.0 + 0.15).alias("gg"),
    )
    b = b.withColumn("r_geom", _mk_box(F.col("dx") - F.col("gg"), F.col("dy") - F.col("gg"),
                                       F.col("dx") + F.col("gg"), F.col("dy") + F.col("gg")))
    pairs = spatial_join.intersects_join_multires(
        a.select("a_id", "geom"), b.select("b_id", "r_geom"),
        resolutions=(3, 5, 7), left_geom="geom", right_geom="r_geom",
    )
    return pairs.select("a_id", "b_id")


Q96_SQL = """
WITH a AS (
  SELECT o_orderkey AS a_id,
         ((o_orderkey * 7) % 3000) / 100.0 - 15.0 AS cx,
         ((o_orderkey * 11) % 1800) / 100.0 + 39.0 AS cy,
         CASE WHEN o_orderkey % 2 = 0 THEN (o_orderkey % 5) + 3.0
              ELSE (o_orderkey % 4) / 10.0 + 0.1 END AS hh
  FROM orders WHERE o_orderkey % 61 = 0
), b AS (
  SELECT p_partkey AS b_id,
         ((p_partkey * 13) % 3000) / 100.0 - 14.9987 AS dx,
         ((p_partkey * 17) % 1800) / 100.0 + 39.0013 AS dy,
         CASE WHEN p_partkey % 2 = 0 THEN (p_partkey % 4) + 2.5
              ELSE (p_partkey % 6) / 10.0 + 0.15 END AS gg
  FROM part WHERE p_partkey % 23 = 0
)
SELECT a_id, b_id
FROM a JOIN b
  ON cx - hh <= dx + gg AND dx - gg <= cx + hh
 AND cy - hh <= dy + gg AND dy - gg <= cy + hh
"""


def q62_salted_intersects(spark, sf_dir):
    """The q45 polygon x polygon join through the SKEW-SALTED path
    (salt=8: the broadcast side replicates per salt value, the big side
    scatters, so one hot cell splits across 8 tasks) — driver-verifies
    that salting is result-identical, not just pytest-identical. Same
    oracle as q45."""
    img = _image_rects(spark, sf_dir)
    lc = _landcover_rects(spark, sf_dir)
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"),
        lc.select("lc_id", "lc_geom"),
        res=6,
        left_geom="geom",
        right_geom="lc_geom",
        salt=8,
        # rect-fixture twin of q45: bbox overlap IS ST_Intersects here
        refine="bbox-exact",
    )
    return pairs.groupBy("lc_id").agg(F.count(F.lit(1)).alias("n_images"))


def q76_intersects_right_outer(spark, sf_dir):
    """q45's polygon x polygon join preserving the land-cover side:
    classes intersecting ZERO images are kept with n_images = 0 (the
    dashboard ask the reference drops, now for the J2 polygon join —
    q65's sibling on the intersects path)."""
    img = _image_rects(spark, sf_dir)
    lc = _landcover_rects(spark, sf_dir)
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"), lc.select("lc_id", "lc_geom"),
        res=6, left_geom="geom", right_geom="lc_geom",
        how="right", right_id="lc_id",
    )
    return pairs.groupBy("lc_id").agg(F.count("img_id").alias("n_images"))


Q76_SQL = f"""
WITH img AS ({_IMAGE_RECTS_SQL}), lc AS ({_LANDCOVER_RECTS_SQL})
SELECT lc_id, count(img_id) AS n_images
FROM lc LEFT JOIN img
  ON ix - ih <= cx + ch AND cx - ch <= ix + ih
 AND iy - ih <= cy + ch AND cy - ch <= iy + ih
GROUP BY lc_id
"""


Q45_SQL = f"""
WITH img AS ({_IMAGE_RECTS_SQL}), lc AS ({_LANDCOVER_RECTS_SQL})
SELECT lc_id, count(*) AS n_images
FROM img JOIN lc
  ON ix - ih <= cx + ch AND cx - ch <= ix + ih
 AND iy - ih <= cy + ch AND cy - ch <= iy + ih
GROUP BY lc_id
"""


def q64_pip_wkb(spark, sf_dir):
    """q41's PIP join with the points entering as WKB ONLY (no
    lonlat_cols fast path): exercises the general point_cell_lonlat
    decode leg — one Arrow struct UDF evaluated ONCE per row
    (asNondeterministic barrier, VERDICT r3) — plus res='auto'
    (cells.choose_res from the polygon bbox sample). Same oracle as
    q41."""
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat"))).select(
        "event_id", "geom"
    )
    boxes = _box_table(spark)
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res="auto", point_geom="geom", poly_geom="box_geom"
    )
    return joined.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points"))


# q65 fixture: the five populated boxes plus two OUTSIDE the derived
# point domain (lon in [-20,20), lat in [36,61)) — right-outer join must
# keep them with a zero count
BOXES_WITH_EMPTY = BOXES + [
    (5, 25.005, 38.005, 35.005, 48.005),   # east of every point
    (6, -15.005, 10.005, -5.005, 20.005),  # south of every point
]


def q65_pip_right_outer(spark, sf_dir):
    """'Count images per city INCLUDING zero-image cities' (the reference
    dashboard shape app/query.py:94-105 silently drops unmatched
    cities): points_in_polygons_join(how='right') keeps polygons with no
    point via an anti-join backfill; count(event_id) then yields 0 for
    them, exactly like the SQL LEFT JOIN oracle."""
    pts = _event_point_geoms(spark, sf_dir)
    boxes = _box_table(spark, BOXES_WITH_EMPTY)
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res=7, point_geom="geom", poly_geom="box_geom",
        lonlat_cols=("lon", "lat"), how="right", poly_id="box_id",
    )
    return joined.groupBy("box_id").agg(F.count("event_id").alias("n_points"))


Q65_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
{_boxes_cte(BOXES_WITH_EMPTY)}
SELECT box_id, count(event_id) AS n_points
FROM boxes LEFT JOIN pts
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY box_id
"""


def q66_pip_left_outer(spark, sf_dir):
    """Left sibling of q65: every POINT kept, box_id null when no box
    contains it (points in overlapping boxes emit one row per box, same
    as SQL LEFT JOIN fan-out). Exercises the anti-join backfill on the
    large side of the join."""
    pts = _event_point_geoms(spark, sf_dir)
    boxes = _box_table(spark)
    joined = spatial_join.points_in_polygons_join(
        pts, boxes, res=7, point_geom="geom", poly_geom="box_geom",
        lonlat_cols=("lon", "lat"), how="left", point_id="event_id",
    )
    return joined.select("event_id", "box_id")


Q66_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
{_boxes_cte()}
SELECT event_id, box_id
FROM pts LEFT JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
"""


def q85_convex_hull(spark, sf_dir):
    """ST_ConvexHull as a grouped UDAF (monotone chain kernel): per
    group, 12 rim points on an ellipse (angles 2πk/12) plus interior
    points at radius factor ≤ 0.5 — the hull must keep EXACTLY the 12
    rim vertices (discrete, robust to 1-ulp coordinate drift), and its
    shoelace area equals the inscribed-12-gon closed form
    6·rx·ry·sin(π/6) to float rounding (round 6)."""
    import numpy as np_

    ev = _t(spark, sf_dir, "events").select("event_id")
    j = F.floor(F.col("event_id") / 10).cast("long")
    gid = F.pmod(F.col("event_id"), F.lit(10))
    k = F.pmod(j, F.lit(12)).cast("double")
    rim = F.pmod(j, F.lit(5)) == 0
    f = F.when(rim, F.lit(1.0)).otherwise(
        F.lit(0.3) + F.pmod(j, F.lit(3)).cast("double") * F.lit(0.1)
    )
    rx = F.lit(2.0) + F.pmod(gid, F.lit(3)).cast("double")
    ry = F.lit(1.5) + F.pmod(gid, F.lit(4)).cast("double") * F.lit(0.5)
    theta = k * F.lit(np_.pi / 6)
    pts = ev.select(
        gid.alias("gid"),
        (gid.cast("double") * F.lit(10.0) + f * rx * F.cos(theta)).alias("x"),
        (f * ry * F.sin(theta)).alias("y"),
    )

    def hull_fn(pdf):
        import numpy as np
        import pandas as pd

        from pda_spark.geo import kernels

        ring = kernels.convex_hull(np.column_stack([pdf["x"], pdf["y"]]))
        return pd.DataFrame(
            {
                "gid": [int(pdf["gid"].iloc[0])],
                "hull_n": [len(ring) - 1],
                "hull_area": [abs(kernels.ring_area_signed(ring))],
            }
        )

    out = pts.groupBy("gid").applyInPandas(
        hull_fn, "gid long, hull_n long, hull_area double"
    )
    return out.select("gid", "hull_n", F.round("hull_area", 6).alias("hull_area"))


Q85_SQL = """
SELECT DISTINCT event_id % 10 AS gid,
       CAST(12 AS BIGINT) AS hull_n,
       round(6 * (2.0 + (event_id % 10) % 3) * (1.5 + ((event_id % 10) % 4) * 0.5)
             * sin(pi() / 6), 6) AS hull_area
FROM events
"""


def q69_distance_join(spark, sf_dir):
    """ST_DWithin-class distance join (J4, reference city-buffer
    db.py:236-245) through the fully-JVM within_distance_join — cover
    cells, equi-join, sqrt refine all whole-stage codegen, zero Python —
    so the oracle's identical IEEE754 chain verifies it exactly."""
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    centers = spark.createDataFrame(
        [(q[0], q[1], q[2]) for q in KNN_QUERIES], "query_id int, clon double, clat double"
    )
    out = spatial_join.within_distance_join(pts, centers, radius=2.0015, res=6)
    return out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_points"))


Q69_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
centers(query_id, clon, clat) AS (
  VALUES {_KNN_QUERIES_VALUES}
)
SELECT query_id, count(*) AS n_points
FROM pts JOIN centers
  ON sqrt((lon - clon) * (lon - clon) + (lat - clat) * (lat - clat)) <= 2.0015
GROUP BY query_id
"""


def q70_pip_multires(spark, sf_dir):
    """Per-geometry-resolution PIP join (points_in_polygons_join_multires):
    each box covers itself at the coarsest allowed resolution bounding
    its fan-out (res lives in the cell id's high bits, so one equi-join
    spans all levels; a pair meets at exactly the polygon's res — no
    dedup). The oracle is the same range join as q41 over the mixed
    fixture, proving resolution mixing never changes results."""
    pts = _event_point_geoms(spark, sf_dir)
    boxes = _box_table(spark, MIXED_BOXES)
    joined = spatial_join.points_in_polygons_join_multires(
        pts, boxes, resolutions=(3, 5, 7, 9), point_geom="geom", poly_geom="box_geom",
        lonlat_cols=("lon", "lat"),
    )
    return joined.groupBy("box_id").agg(F.count(F.lit(1)).alias("n_points"))


Q70_SQL = _pip_counts_sql(MIXED_BOXES)


def q48_river_intersects(spark, sf_dir):
    """LineString x polygon ST_Intersects join (J2 with a lineal operand).

    The reference's land-cover table mixes urban polygons with river/lake
    centerline LineStrings (api_importer/clients/
    geojson_xyz.py:59-70; model database/db.py:248-253), so its
    image x land_cover join (database/db.py:116-122) runs against lines in
    production. Rivers here are axis-aligned H-V-H staircase centerlines,
    which makes the DuckDB oracle a pure interval-overlap predicate: an
    axis-aligned segment's bbox IS the segment, so rect-intersects-segment
    reduces to per-axis interval overlap, and the river hits the image iff
    any of its 3 segments does. Same cover/dedup/refine plan as q45 — the
    physical join is geometry-kind-agnostic (bbox covers + exact refine).
    """
    img = _image_rects(spark, sf_dir)
    rivers = _rivers(spark, sf_dir).withColumn(
        "river_geom", _mk_staircase(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    pairs = spatial_join.intersects_join(
        img.select("img_id", "geom"),
        rivers.select("river_id", "river_geom"),
        res=6,
        left_geom="geom",
        right_geom="river_geom",
    )
    return pairs.groupBy("river_id").agg(F.count(F.lit(1)).alias("n_images"))


Q48_SQL = f"""
WITH img AS ({_IMAGE_RECTS_SQL}), rivers AS ({_RIVERS_SQL}), segs AS (
  -- H-V-H staircase: each axis-aligned segment's bbox IS the segment
  SELECT river_id, ax AS x0, ax + w AS x1, ay AS y0, ay AS y1 FROM rivers
  UNION ALL
  SELECT river_id, ax + w, ax + w, least(ay, ay + h), greatest(ay, ay + h) FROM rivers
  UNION ALL
  SELECT river_id, ax + w, ax + 2 * w, ay + h, ay + h FROM rivers
)
SELECT river_id, count(*) AS n_images
FROM (
  SELECT DISTINCT img_id, river_id
  FROM img JOIN segs
    ON ix - ih <= x1 AND x0 <= ix + ih
   AND iy - ih <= y1 AND y0 <= iy + ih
) GROUP BY river_id
"""


def q88_geodesic_length(spark, sf_dir):
    """ST_LengthSpheroid per river SEGMENT (great-circle metres on the
    authalic sphere — closes the geodesic measurement family beside q78's
    distance metric): the q49 5-vertex river lines decode once per row,
    each of the 4 segments emits its own haversine length, so every value
    is a single scalar expression the q78-style oracle replays."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "line", _mk_river_line(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    segs = rivers.select(
        "river_id",
        F.posexplode(geo_udfs.geodesic_seg_lengths(F.col("line"))).alias("seg", "len_m"),
    )
    return segs.select("river_id", "seg", F.round("len_m", 6).alias("len_m"))


Q88_SQL = f"""
WITH r AS ({_RIVERS_SQL}), segs AS (
  SELECT river_id, 0 AS seg, ax AS lon0, ay AS lat0, ax + w AS lon1, ay AS lat1 FROM r
  UNION ALL SELECT river_id, 1, ax + w, ay, ax + w, ay + h FROM r
  UNION ALL SELECT river_id, 2, ax + w, ay + h, ax + 2 * w, ay + h FROM r
  UNION ALL SELECT river_id, 3, ax + 2 * w, ay + h, ax + 3 * w, ay + 2 * h FROM r
)
SELECT river_id, seg,
       round(2.0 * CAST({_RQ_REPR} AS DOUBLE) * asin(sqrt(least(greatest(
             pow(sin((radians(lat1) - radians(lat0)) / 2.0), 2)
             + cos(radians(lat0)) * cos(radians(lat1))
               * pow(sin((radians(lon1) - radians(lon0)) / 2.0), 2),
       0.0), 1.0))), 6) AS len_m
FROM segs
"""


def q49_river_length(spark, sf_dir):
    """ST_Length over LineString rivers (planar degrees — F-function
    coverage for the lineal geometry family). The 5-vertex centerline
    includes a diagonal segment, so the UDF's sqrt(dx*dx+dy*dy) path is
    exercised; the oracle replays the identical per-segment op chain and
    the identical left-to-right accumulation, so the doubles match
    bit-for-bit with no rounding."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "river_geom", _mk_river_line(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    return rivers.select(
        "river_id", geo_udfs.line_length_planar(F.col("river_geom")).alias("length_deg")
    )


Q49_SQL = f"""
WITH rivers AS ({_RIVERS_SQL}),
p AS (
  SELECT river_id,
         ax AS x0, ay AS y0,
         ax + w AS x1, ay AS y1,
         ax + w AS x2, ay + h AS y2,
         ax + 2 * w AS x3, ay + h AS y3,
         ax + 3 * w AS x4, ay + 2 * h AS y4
  FROM rivers
)
SELECT river_id,
       sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))
     + sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
     + sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2))
     + sqrt((x4 - x3) * (x4 - x3) + (y4 - y3) * (y4 - y3)) AS length_deg
FROM p
"""


def q50_river_crossings(spark, sf_dir):
    """LineString x LineString intersects join (river staircases x
    vertical road segments) — the line-line leg of the generalized
    refine kernel, driver-gated. Roads sit at x's with a .005 offset so
    no road is ever collinear with a river's vertical segment; only
    H-river-segment x V-road crossings exist, which the oracle expresses
    as pure interval predicates."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "river_geom", _mk_staircase(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    s = _t(spark, sf_dir, "supplier")
    roads = s.select(
        F.col("s_suppkey").alias("road_id"),
        (F.pmod(F.col("s_suppkey") * 29, F.lit(3900)) / 100.0 - 19.005).alias("rx"),
        (F.pmod(F.col("s_suppkey") * 31, F.lit(1900)) / 100.0 + 38.0).alias("ry0"),
    ).withColumn("ry1", F.col("ry0") + F.pmod(F.col("road_id"), F.lit(6)) / 2.0 + 0.5)
    roads = roads.withColumn(
        "road_geom", _mk_segment(F.col("rx"), F.col("ry0"), F.col("rx"), F.col("ry1"))
    )
    pairs = spatial_join.intersects_join(
        roads.select("road_id", "road_geom"),
        rivers.select("river_id", "river_geom"),
        res=6,
        left_geom="road_geom",
        right_geom="river_geom",
    )
    return pairs.groupBy("road_id").agg(F.count(F.lit(1)).alias("n_rivers"))


Q50_SQL = f"""
WITH rivers AS ({_RIVERS_SQL}),
hsegs AS (
  SELECT river_id, ax AS hx0, ax + w AS hx1, ay AS hy FROM rivers
  UNION ALL
  SELECT river_id, ax + w, ax + 2 * w, ay + h FROM rivers
), roads AS (
  SELECT s_suppkey AS road_id,
         ((s_suppkey * 29) % 3900) / 100.0 - 19.005 AS rx,
         ((s_suppkey * 31) % 1900) / 100.0 + 38.0 AS ry0,
         ((s_suppkey * 31) % 1900) / 100.0 + 38.0 + (s_suppkey % 6) / 2.0 + 0.5 AS ry1
  FROM supplier
)
SELECT road_id, count(*) AS n_rivers
FROM (
  SELECT DISTINCT river_id, road_id
  FROM hsegs JOIN roads
    ON hx0 <= rx AND rx <= hx1 AND ry0 <= hy AND hy <= ry1
) GROUP BY road_id
"""


def q61_simplify(spark, sf_dir):
    """ST_Simplify (Douglas-Peucker, kernels.dp_simplify) through the
    gate: rivers densified with exactly-collinear midpoints must
    simplify back to their 4 corners — vertex counts before/after plus
    the post-simplify ST_Length. The oracle knows the exact answer
    arithmetically (collinear points have deviation exactly 0, corners
    exceed any tol < min(w,|h|)/2), including the bit-exact length sqrt
    chain of the simplified segments."""
    rivers = _rivers(spark, sf_dir).withColumn(
        "dense_geom", _mk_staircase_dense(F.col("ax"), F.col("ay"), F.col("w"), F.col("h"))
    )
    simp = rivers.withColumn(
        "simple_geom", geo_udfs.simplify_geom(F.col("dense_geom"), F.lit(1e-9))
    )
    return simp.select(
        "river_id",
        geo_udfs.num_points(F.col("dense_geom")).alias("n_pts_before"),
        geo_udfs.num_points(F.col("simple_geom")).alias("n_pts_after"),
        geo_udfs.line_length_planar(F.col("simple_geom")).alias("length_deg"),
    )


Q61_SQL = f"""
WITH rivers AS ({_RIVERS_SQL}),
p AS (
  SELECT river_id,
         ax AS x0, ay AS y0,
         ax + w AS x1, ay AS y1,
         ax + w AS x2, ay + h AS y2,
         ax + 2 * w AS x3, ay + h AS y3
  FROM rivers
)
SELECT river_id,
       CAST(7 AS BIGINT) AS n_pts_before,
       CAST(4 AS BIGINT) AS n_pts_after,
       sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))
     + sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
     + sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2)) AS length_deg
FROM p
"""


def q46_dissolve_area(spark, sf_dir):
    """Geometric dissolve (ST_UNION GROUP BY, A6/A7) through the real
    scanline union kernel: per brand, heavily-overlapping axis-aligned
    boxes sharing one y-band. The oracle reduces the union area to a 1D
    interval-union (gaps-and-islands SQL) x band height. All coordinates
    are integers, so both engines produce the exact same integer area."""
    from pda_spark.operators import dissolve as dissolve_op

    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(3)) == 0)
    boxes = p.select(
        F.col("p_brand"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(1000))).cast("double").alias("x0"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(1000)) + F.pmod(F.col("p_size"), F.lit(40)) + 1)
        .cast("double")
        .alias("x1"),
        (F.substring("p_brand", 7, 1).cast("int") % 3 + 1).cast("double").alias("h"),
    )
    boxes = boxes.withColumn("geom", _mk_box(F.col("x0"), F.lit(0.0), F.col("x1"), F.col("h")))
    out = dissolve_op.dissolve(boxes, key="p_brand", geom="geom")
    return out.select(
        F.col("featureclass").alias("brand"),
        F.col("union_area").cast("long").alias("union_area"),
    )


Q46_SQL = """
WITH boxes AS (
  SELECT p_brand AS brand,
         (p_partkey * 13) % 1000 AS x0,
         (p_partkey * 13) % 1000 + (p_size % 40) + 1 AS x1,
         (CAST(substring(p_brand, 7, 1) AS INT) % 3) + 1 AS h
  FROM part WHERE p_partkey % 3 = 0
), marked AS (
  SELECT brand, x0, x1, h,
         CASE WHEN x0 > coalesce(max(x1) OVER (PARTITION BY brand ORDER BY x0, x1
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_new
  FROM boxes
), grp AS (
  SELECT *, sum(is_new) OVER (PARTITION BY brand ORDER BY x0, x1 ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), islands AS (
  SELECT brand, any_value(h) AS h, max(x1) - min(x0) AS len FROM grp GROUP BY brand, g
)
SELECT brand, CAST(sum(len * h) AS BIGINT) AS union_area FROM islands GROUP BY brand
"""


def q47_coverage_pct(spark, sf_dir):
    """The reference coverage query (A7/J7/F6) through the REAL
    cell-partitioned operator: per brand, % of the class-union covered by
    the image-union. Class boxes and image boxes share one integer y-band
    per brand, so the oracle reduces both unions to 1D interval islands
    and intersects them in SQL; areas are exact integers in both engines,
    making round(100*num/den, 3) bit-identical."""
    from pda_spark.operators import dissolve as dissolve_op

    # integer coordinates inside the lon/lat domain ([0,158] x [0,3]):
    # cell boundaries at res=3 are integers too, so every per-cell clip
    # keeps integer corners and both engines' areas are exact integers
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(5)) == 0)
    h = (F.substring("p_brand", 7, 1).cast("int") % 3 + 1).cast("double")
    cls = p.select(
        F.col("p_brand").alias("featureclass"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(150))).cast("double").alias("x0"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(150)) + F.pmod(F.col("p_size"), F.lit(8)) + 1)
        .cast("double")
        .alias("x1"),
        h.alias("h"),
    )
    cls = cls.withColumn("geom", _mk_box(F.col("x0"), F.lit(0.0), F.col("x1"), F.col("h")))
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(257)) == 0)
    img = o.select(
        (F.pmod(F.col("o_orderkey") * 7, F.lit(150))).cast("double").alias("ix0"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(150)) + F.pmod(F.col("o_orderkey"), F.lit(4)) + 1)
        .cast("double")
        .alias("ix1"),
    )
    # images span every band (y 0..3 covers all brand heights 1..3)
    img = img.withColumn("geom", _mk_box(F.col("ix0"), F.lit(0.0), F.col("ix1"), F.lit(3.0)))
    out = dissolve_op.coverage(cls.select("featureclass", "geom"), img.select("geom"), res=3)
    return out.select(F.col("featureclass").alias("brand"), "coverage_percentage")


Q47_SQL = """
WITH cls AS (
  SELECT p_brand AS brand,
         (p_partkey * 13) % 150 AS x0,
         (p_partkey * 13) % 150 + (p_size % 8) + 1 AS x1,
         (CAST(substring(p_brand, 7, 1) AS INT) % 3) + 1 AS h
  FROM part WHERE p_partkey % 5 = 0
), img AS (
  SELECT (o_orderkey * 7) % 150 AS x0,
         (o_orderkey * 7) % 150 + (o_orderkey % 4) + 1 AS x1
  FROM orders WHERE o_orderkey % 257 = 0
), cmark AS (
  SELECT brand, x0, x1, h,
         CASE WHEN x0 > coalesce(max(x1) OVER (PARTITION BY brand ORDER BY x0, x1
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_new
  FROM cls
), cgrp AS (
  SELECT *, sum(is_new) OVER (PARTITION BY brand ORDER BY x0, x1 ROWS UNBOUNDED PRECEDING) AS g
  FROM cmark
), cisl AS (
  SELECT brand, any_value(h) AS h, min(x0) AS s, max(x1) AS e FROM cgrp GROUP BY brand, g
), imark AS (
  SELECT x0, x1,
         CASE WHEN x0 > coalesce(max(x1) OVER (ORDER BY x0, x1
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS is_new
  FROM img
), igrp AS (
  SELECT *, sum(is_new) OVER (ORDER BY x0, x1 ROWS UNBOUNDED PRECEDING) AS g FROM imark
), iisl AS (
  SELECT min(x0) AS s, max(x1) AS e FROM igrp GROUP BY g
), num AS (
  SELECT c.brand, sum((least(c.e, i.e) - greatest(c.s, i.s)) * c.h) AS num_area
  FROM cisl c JOIN iisl i ON c.s < i.e AND i.s < c.e
  GROUP BY c.brand
), den AS (
  SELECT brand, sum((e - s) * h) AS den_area FROM cisl GROUP BY brand
)
SELECT den.brand AS brand,
       -- round_even: the operator rounds like the reference (pandas
       -- .round = numpy half-to-even); integer coords make exact binary
       -- midpoints (e.g. 32.8125) reachable, where HALF_UP would differ
       round_even(100.0 * num_area / den_area, 3) AS coverage_percentage
FROM den JOIN num ON den.brand = num.brand
WHERE num_area > 0
"""


# Areal-interpolation zones: every coordinate is a multiple of 0.5 and no
# edge lies on a res-5 cell boundary (multiples of 11.25 / 5.625), so the
# whole clip -> shoelace -> divide chain is EXACT binary arithmetic in
# both engines and floor-scaled integers cannot straddle a rounding edge.
ZONES = [
    (0, -16.5, 37.5, -4.0, 46.0, 1200),
    (1, -6.0, 40.5, 7.5, 51.0, 800),
    (2, 3.0, 43.5, 14.5, 57.0, 1500),
    (3, 9.5, 36.5, 19.0, 49.5, 700),
    (4, -12.0, 50.0, 2.5, 60.5, 950),
]


def q106_areal_interp(spark, sf_dir):
    """Areal-weighted interpolation (GIS population transfer): zone
    values redistribute onto the res-5 grid by exact overlap-area share
    through the REAL clip machinery (Sutherland-Hodgman against cell
    boxes + scanline area). Per-(zone, cell) scalar rows (the q81 rule);
    weights/contributions emitted as floor-scaled integers (the
    half-way rounding rule) — exact here because the fixture keeps
    every coordinate binary-exact (see ZONES note)."""
    from pda_spark.operators import tiling

    zones = spark.createDataFrame(
        [(z[0], z[5], bytearray(W.box(z[1], z[2], z[3], z[4]))) for z in ZONES],
        "zone_id int, pop int, geom binary",
    )
    out = tiling.areal_interpolate(zones, res=5, zone_id="zone_id", value_col="pop", geom="geom")
    return out.select(
        "zone_id",
        "cell",
        F.floor(F.col("weight") * 1000000.0).cast("long").alias("weight_ppm"),
        F.floor(F.col("contribution") * 100.0).cast("long").alias("contrib_cents"),
    )


Q106_SQL = f"""
WITH z AS (
  SELECT * FROM (VALUES {', '.join(f'({z[0]}, {z[1]}, {z[2]}, {z[3]}, {z[4]}, {z[5]})' for z in ZONES)})
    AS t(zone_id, minx, miny, maxx, maxy, pop)
), gx AS (
  SELECT *, unnest(range(CAST(floor((minx + 180.0) / 360.0 * 32) AS BIGINT),
                         CAST(floor((maxx + 180.0) / 360.0 * 32) AS BIGINT) + 1)) AS ix
  FROM z
), gxy AS (
  SELECT *, unnest(range(CAST(floor((miny + 90.0) / 180.0 * 32) AS BIGINT),
                         CAST(floor((maxy + 90.0) / 180.0 * 32) AS BIGINT) + 1)) AS iy
  FROM gx
), ov AS (
  SELECT zone_id, pop, ix, iy,
         greatest(least(maxx, -180.0 + (ix + 1) * 11.25) - greatest(minx, -180.0 + ix * 11.25), 0) AS ow,
         greatest(least(maxy, -90.0 + (iy + 1) * 5.625) - greatest(miny, -90.0 + iy * 5.625), 0) AS oh,
         (maxx - minx) * (maxy - miny) AS zarea
  FROM gxy
)
SELECT zone_id, (5::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell,
       CAST(floor((ow * oh / zarea) * 1000000.0) AS BIGINT) AS weight_ppm,
       CAST(floor(pop * (ow * oh / zarea) * 100.0) AS BIGINT) AS contrib_cents
FROM ov WHERE ow > 0 AND oh > 0
"""


def q123_hausdorff(spark, sf_dir):
    """Symmetric discrete Hausdorff distance between user trajectories
    (users with id % 30 == 0; all ordered pairs within the subset as
    the explicit candidate set — the operator's blocking stays with the
    caller). hausdorff_sq is a min/max lattice over per-pair fixed
    IEEE squared distances, so no sum ordering exists to diverge and
    both engines emit identical doubles."""
    from pda_spark.operators import temporal

    pts = _event_points(spark, sf_dir).filter(F.pmod(F.col("user_id"), F.lit(30)) == 0)
    traj = pts.select(
        F.col("user_id").alias("k"), F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    keys = traj.select("k").distinct()
    pairs = keys.select(F.col("k").alias("key_a")).join(
        keys.select(F.col("k").alias("key_b")), F.col("key_a") < F.col("key_b")
    )
    return temporal.hausdorff_join(traj, pairs, key_col="k", x_col="x", y_col="y")


Q123_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
p AS (
  SELECT user_id AS k, lon AS x, lat AS y FROM pts WHERE user_id % 30 = 0
), ks AS (
  SELECT DISTINCT k FROM p
), prs AS (
  SELECT a.k AS key_a, b.k AS key_b FROM ks a JOIN ks b ON a.k < b.k
), cr AS (
  SELECT pr.key_a, pr.key_b, pa.x AS xa, pa.y AS ya, pb.x AS xb, pb.y AS yb,
         (pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y) AS d2
  FROM prs pr
  JOIN p pa ON pa.k = pr.key_a
  JOIN p pb ON pb.k = pr.key_b
), hab AS (
  SELECT key_a, key_b, max(m) AS hab FROM (
    SELECT key_a, key_b, xa, ya, min(d2) AS m FROM cr GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2
), hba AS (
  SELECT key_a, key_b, max(m) AS hba FROM (
    SELECT key_a, key_b, xb, yb, min(d2) AS m FROM cr GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2
)
SELECT key_a, key_b, greatest(hab, hba) AS hausdorff_sq
FROM hab JOIN hba USING (key_a, key_b)
"""


def q124_dbscan(spark, sf_dir):
    """Point-level DBSCAN (eps=0.3, min_pts=10) over a derived point
    set with real cluster structure: each user contributes a tight blob
    (side 0.2 — a full eps-clique, diameter 0.283 < eps) around a
    user-determined integer center >= 1.0 from its neighbors, and every
    50th event is a scatter point — so cores, borders AND noise all
    occur at every SF. All coordinate arithmetic is the same fixed
    float op sequence in both engines (the _event_points discipline);
    the oracle re-derives the full algorithm with a recursive-CTE
    reachability closure against Spark's large-star/small-star CC."""
    from pda_spark.operators import tiling

    ev = _t(spark, sf_dir, "events")
    is_scatter = F.pmod(F.col("event_id"), F.lit(50)) == 0
    bx = (
        F.pmod(F.col("user_id"), F.lit(40))
        + F.pmod(F.col("event_id") * 31, F.lit(21)) / 100.0
        - 0.1
    )
    by = (
        F.pmod(F.expr("user_id div 40"), F.lit(25))
        + F.pmod(F.col("event_id") * 57, F.lit(21)) / 100.0
        - 0.1
    )
    sx = F.pmod(F.col("event_id") * 97 + F.col("user_id") * 13, F.lit(4000)) / 100.0
    sy = F.pmod(F.col("event_id") * 41 + F.col("user_id") * 7, F.lit(2500)) / 100.0
    pts = ev.filter(F.pmod(F.col("user_id"), F.lit(3)) == 0).select(
        F.col("event_id").alias("id"),
        F.when(is_scatter, sx).otherwise(bx).alias("x"),
        F.when(is_scatter, sy).otherwise(by).alias("y"),
    )
    return tiling.dbscan(pts, eps=0.3, min_pts=10)


Q124_SQL = """
WITH RECURSIVE base AS (
  SELECT event_id AS id,
         CASE WHEN event_id % 50 = 0
           THEN (event_id * 97 + user_id * 13) % 4000 / 100.0
           ELSE (user_id % 40) + (event_id * 31) % 21 / 100.0 - 0.1 END AS x,
         CASE WHEN event_id % 50 = 0
           THEN (event_id * 41 + user_id * 7) % 2500 / 100.0
           ELSE (user_id // 40) % 25 + (event_id * 57) % 21 / 100.0 - 0.1 END AS y
  FROM events WHERE user_id % 3 = 0
), g AS (
  SELECT id, x, y,
         floor(x / 0.3)::BIGINT AS gx, floor(y / 0.3)::BIGINT AS gy
  FROM base
), nb AS (
  SELECT a.id AS ia, b.id AS ib
  FROM (SELECT id, x, y, gx + dx AS gx, gy + dy AS gy
        FROM g,
             unnest(generate_series(-1, 1)) AS t1(dx),
             unnest(generate_series(-1, 1)) AS t2(dy)) a
  JOIN g b ON a.gx = b.gx AND a.gy = b.gy
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.3 * 0.3
), deg AS (
  SELECT ia AS id, count(*) AS deg FROM nb GROUP BY 1
), core AS (
  SELECT id FROM deg WHERE deg >= 10
), ce AS (
  SELECT ia, ib FROM nb
  JOIN core ca ON ca.id = nb.ia
  JOIN core cb ON cb.id = nb.ib
  WHERE ia <> ib
), reach(id, r) AS (
  SELECT id, id FROM core
  UNION
  SELECT ce.ia, reach.r FROM ce JOIN reach ON ce.ib = reach.id
), core_lab AS (
  SELECT id, min(r) AS cl FROM reach GROUP BY id
), border_lab AS (
  SELECT nb.ia AS id, min(core_lab.cl) AS bl
  FROM nb JOIN core_lab ON core_lab.id = nb.ib
  GROUP BY 1
)
SELECT b.id, core_lab.id IS NOT NULL AS is_core,
       coalesce(core_lab.cl, border_lab.bl) AS cluster_id
FROM base b
LEFT JOIN core_lab ON core_lab.id = b.id
LEFT JOIN border_lab ON border_lab.id = b.id
"""


def q136_snap_points(spark, sf_dir):
    """Map matching: snap every event point to its NEAREST river
    segment within 0.5 deg (planar) — cell-blocked candidate join +
    clamped-projection point-to-segment distance + per-point struct-min
    argmin, all whole-stage codegen (spatial_join.snap_to_segments).
    The oracle brute-forces points x all 100 segments and picks the
    row_number()=1 row under the identical (d2, river_id, seg) order —
    checking both the cell cover's completeness (no nearest segment
    lost to blocking) and the IEEE754 distance chain."""
    rivers = _rivers(spark, sf_dir)
    ax, ay, w, h = F.col("ax"), F.col("ay"), F.col("w"), F.col("h")
    arm = lambda s, x0, y0, x1, y1: F.struct(  # noqa: E731
        F.lit(s).alias("seg"), x0.alias("x0"), y0.alias("y0"), x1.alias("x1"), y1.alias("y1")
    )
    segs = rivers.select(
        "river_id",
        F.explode(
            F.array(
                arm(0, ax, ay, ax + w, ay),
                arm(1, ax + w, ay, ax + w, ay + h),
                arm(2, ax + w, ay + h, ax + F.lit(2) * w, ay + h),
                arm(3, ax + F.lit(2) * w, ay + h, ax + F.lit(3) * w, ay + F.lit(2) * h),
            )
        ).alias("s"),
    ).select("river_id", "s.seg", "s.x0", "s.y0", "s.x1", "s.y1")
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    out = spatial_join.snap_to_segments(
        pts,
        segs,
        radius=0.5,
        res=6,
        point_id_col="event_id",
        seg_id_cols=("river_id", "seg"),
        seg_cols=("x0", "y0", "x1", "y1"),
    )
    return out.select(
        "event_id",
        "river_id",
        "seg",
        F.round("snap_t", 6).alias("snap_t"),
        F.round("snap_d2", 6).alias("snap_d2"),
    )


Q136_SQL = f"""
WITH r AS ({_RIVERS_SQL}), segs AS (
  SELECT river_id, 0 AS seg, ax AS x0, ay AS y0, ax + w AS x1, ay AS y1 FROM r
  UNION ALL SELECT river_id, 1, ax + w, ay, ax + w, ay + h FROM r
  UNION ALL SELECT river_id, 2, ax + w, ay + h, ax + 2 * w, ay + h FROM r
  UNION ALL SELECT river_id, 3, ax + 2 * w, ay + h, ax + 3 * w, ay + 2 * h FROM r
), pts AS ({_EVENT_POINTS_SQL}),
proj AS (
  SELECT event_id, river_id, seg, lon, lat, x0, y0, x1, y1,
         CASE WHEN (x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0) > 0.0
              THEN least(greatest(
                     ((lon - x0) * (x1 - x0) + (lat - y0) * (y1 - y0))
                       / ((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)), 0.0), 1.0)
              ELSE 0.0 END AS t
  FROM pts CROSS JOIN segs
), dist AS (
  SELECT event_id, river_id, seg, t,
         (lon - (x0 + t * (x1 - x0))) * (lon - (x0 + t * (x1 - x0)))
         + (lat - (y0 + t * (y1 - y0))) * (lat - (y0 + t * (y1 - y0))) AS d2
  FROM proj
)
SELECT event_id, river_id, seg, round(t, 6) AS snap_t, round(d2, 6) AS snap_d2
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d2, river_id, seg) AS rn
  FROM dist WHERE d2 <= 0.25
) WHERE rn = 1
"""
