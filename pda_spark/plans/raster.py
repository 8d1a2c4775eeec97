"""Registry raster and tiling queries: cell grids, zonal and focal statistics,
tile pyramids, layout keys, flow routing, and image and video decode.

Builders and oracle SQL follow the conventions stated in registry.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pda_spark.functions import geo_udfs
from pda_spark.operators import spatial_join
from pda_spark.plans.fixtures import (
    _box_table, _boxes_cte, _cell_counts, _CELL_COUNTS_6_CTES, _cell_sql, _event_points,
    _EVENT_POINTS_SQL, _mk_point, _N6, _t,
)


def q28_media_features(spark, sf_dir):
    """Multimodal plumbing through the gate: binary payload column ->
    mapInPandas feature extraction (deterministic fake decode — no image
    codecs in this env, multimodal.py:48-62). Only exact-integer features
    (byte size, 63-bit average-hash) reach the gate; float pixel stats
    stay pytest-pinned."""
    from pda_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(8).alias("width"), F.lit(8).alias("height"), F.lit("x-fake/image").alias("mime")
        ).alias("meta"),
    )
    feats = multimodal.extract_image_features(media)
    return feats.select("media_id", "n_bytes", "phash")


# DuckDB twin of fake_decode_image + average-hash: px = the 64 bytes of
# sha256(text||'#0') || sha256(text||'#1'), bit i of phash = px[i] > mean
def _media_sql() -> str:
    return """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         sha256(text || '#0') || sha256(text || '#1') AS hx
  FROM documents WHERE doc_id < 100
), px AS (
  SELECT media_id, n_bytes,
         [('0x' || substring(hx, 2*i - 1, 2))::BIGINT for i in range(1, 65)] AS p
  FROM m
), stats AS (
  SELECT media_id, n_bytes, p, list_sum(p) / 64.0 AS mean_px FROM px
)
SELECT media_id, n_bytes,
       CAST(list_sum([CASE WHEN p[i] > mean_px THEN 1 << (i - 1) ELSE 0 END
                      for i in range(1, 64)]) AS BIGINT) AS phash
FROM stats
"""


def q44_tile_zonal(spark, sf_dir):
    """Zonal raster<->vector join: count points per (tile, box) pair —
    tile assignment is the Catalyst cell expression (no Python stage)."""
    res = 6
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("tile", geo_udfs.cell_of_xy_expr("lon", "lat", res))
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat")))
    boxes = _box_table(spark)
    joined = spatial_join.points_in_polygons_join(
        pts.select("event_id", "tile", "geom", "lon", "lat"),
        boxes,
        res=res,
        point_geom="geom",
        poly_geom="box_geom",
        lonlat_cols=("lon", "lat"),
    )
    return joined.groupBy("box_id", "tile").agg(F.count(F.lit(1)).alias("n_points"))


Q44_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
{_boxes_cte()}
SELECT box_id, {_cell_sql(6)} AS tile, count(*) AS n_points
FROM pts JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY 1, 2
"""


def q83_zonal_stats(spark, sf_dir):
    """Zonal STATISTICS (A-family widening of q44's zonal counts): per
    (box, tile), count + exact integer sum of the event measure + mean.
    The measure is floored to integer cents BEFORE aggregation so the
    shuffled partial sums are order-independent and bit-exact in any
    engine; the mean is ONE double division at the end."""
    res = 6
    pts = _event_points(spark, sf_dir)
    pts = pts.withColumn("tile", geo_udfs.cell_of_xy_expr("lon", "lat", res))
    pts = pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat")))
    pts = pts.withColumn("cents", F.floor(F.col("value") * 100.0).cast("long"))
    boxes = _box_table(spark)
    joined = spatial_join.points_in_polygons_join(
        pts.select("event_id", "tile", "cents", "geom", "lon", "lat"),
        boxes,
        res=res,
        point_geom="geom",
        poly_geom="box_geom",
        lonlat_cols=("lon", "lat"),
    )
    return joined.groupBy("box_id", "tile").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.round(F.sum("cents").cast("double") / F.count(F.lit(1)), 6).alias("mean_cents"),
    )


Q83_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
{_boxes_cte()}
SELECT box_id, {_cell_sql(6)} AS tile, count(*) AS n_points,
       CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
       round(CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS DOUBLE) / count(*), 6)
         AS mean_cents
FROM pts JOIN boxes
  ON pts.lon BETWEEN boxes.minx AND boxes.maxx
 AND pts.lat BETWEEN boxes.miny AND boxes.maxy
GROUP BY 1, 2
"""


def q87_focal_stats(spark, sf_dir):
    """Focal (3x3 neighborhood) statistics over the cell grid — raster
    smoothing via scatter-gather (each donor cell contributes to its 9
    recipients through pure Catalyst bit math, one grouped sum; the raw
    points are aggregated ONCE before any neighborhood work). Mean is a
    single division by the in-bounds window size."""
    from pda_spark.operators import tiling

    res = 6
    cnt = _cell_counts(spark, sf_dir, res)
    out = tiling.focal_stats(cnt, res=res)
    return out.select(
        "cell", "focal_sum", "win_cells", F.round("focal_mean", 6).alias("focal_mean")
    )


Q87_SQL = f"""
WITH {_CELL_COUNTS_6_CTES}, sc AS (
  SELECT ix + dx AS rix, iy + dy AS riy, n
  FROM cnt
  CROSS JOIN (VALUES (-1), (0), (1)) AS ox(dx)
  CROSS JOIN (VALUES (-1), (0), (1)) AS oy(dy)
  WHERE ix + dx BETWEEN 0 AND {_N6 - 1} AND iy + dy BETWEEN 0 AND {_N6 - 1}
)
SELECT (6::BIGINT * 288230376151711744 + (rix << 29) + riy) AS cell,
       CAST(sum(n) AS BIGINT) AS focal_sum,
       CAST((least(rix + 1, {_N6 - 1}) - greatest(rix - 1, 0) + 1)
            * (least(riy + 1, {_N6 - 1}) - greatest(riy - 1, 0) + 1) AS BIGINT) AS win_cells,
       round(CAST(sum(n) AS DOUBLE)
             / ((least(rix + 1, {_N6 - 1}) - greatest(rix - 1, 0) + 1)
                * (least(riy + 1, {_N6 - 1}) - greatest(riy - 1, 0) + 1)), 6) AS focal_mean
FROM sc GROUP BY rix, riy
"""


def q94_zorder(spark, sf_dir):
    """Morton / Z-order layout key (the Iceberg write-order story,
    SURVEY §4): event points -> res-8 grid coords -> bit-interleaved
    code, entirely Catalyst bit arithmetic; the oracle replays the
    IDENTICAL magic-mask spread steps (one shared constant table
    generates both sides)."""
    res = 8
    pts = _event_points(spark, sf_dir)
    cell = geo_udfs.cell_of_xy_expr("lon", "lat", res)
    mask = (1 << 29) - 1
    ix = F.shiftright(cell, 29).bitwiseAND(F.lit(mask))
    iy = cell.bitwiseAND(F.lit(mask))
    return pts.select(
        "event_id", geo_udfs.zorder_expr(ix, iy).alias("zcode")
    )


_N8 = 1 << 8
_Q94_IX = f"least(greatest(floor((lon + 180.0) / 360.0 * {_N8}), 0), {_N8 - 1})::BIGINT"
_Q94_IY = f"least(greatest(floor((lat + 90.0) / 180.0 * {_N8}), 0), {_N8 - 1})::BIGINT"

Q94_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL})
SELECT event_id,
       ({geo_udfs.morton_spread_sql(_Q94_IX)}
        | ({geo_udfs.morton_spread_sql(_Q94_IY)} << 1)) AS zcode
FROM pts
"""


def q63_video_frames(spark, sf_dir):
    """Video frame-sampling PLUMBING through the gate (multimodal
    mapInPandas, q28's sibling): which (media, frame_no) rows the
    sampler emits is pure arithmetic on payload length (no codecs in
    this env — decode is the documented stub), so the oracle replays it
    with a range() expansion. every_n=3 over fake 64-byte frames."""
    from pda_spark.functions import multimodal

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(F.lit(0).alias("width"), F.lit(0).alias("height"), F.lit("x-fake/video").alias("mime")).alias("meta"),
    )
    frames = multimodal.frame_sample(media, every_n=3)
    return frames.select("media_id", F.col("frame_no").cast("long").alias("frame_no"))


Q63_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(unnest(range(0, greatest(octet_length(CAST(text AS BLOB)) // 64, 1), 3)) AS BIGINT)
         AS frame_no
FROM documents WHERE doc_id < 100
"""


def q98_image_decode(spark, sf_dir):
    """REAL image decode through the gate (VERDICT r5 #3 — upgrades the
    L17 codec slot from fake-decode): per-doc pixel arrays come from a
    pure-arithmetic formula, get ENCODED to real bytes — binary PPM for
    even doc_id, 24-bit BMP for odd (bottom-up BGR rows with 4-byte
    stride padding; widths 5..11 so padding varies) — then round-trip
    through multimodal.decode_image, emitting exact integer channel
    sums. The DuckDB oracle replays the pixel formula arithmetically,
    so any header-offset / stride / BGR / row-order bug in the decoder
    shifts bytes and breaks the sums. Two chained mapInPandas stages
    (encode, decode) = two Python workers on this leg — fine for a
    fixture-sized gate; production decode is the single
    decode_image_stats stage."""
    from pda_spark.functions import multimodal

    media = _synth_coded_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_image_stats(media)


def _synth_coded_media(docs: DataFrame) -> DataFrame:
    """REAL-encoded fixture media shared by q98/q101: formula pixels
    (``(doc_id*31 + i*7) % 256`` over the flat RGB index) encoded to
    binary PPM (even doc_id) or 24-bit BMP (odd — bottom-up BGR rows,
    4-byte stride padding; widths 5..11 so the padding varies)."""
    from pda_spark.functions import multimodal

    docs = docs.filter(F.col("doc_id") < 120).select("doc_id")

    def make_media(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 7, 4 + did % 5
                i = np.arange(w * h * 3, dtype=np.int64)
                px = ((did * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w, 3)
                enc = multimodal.encode_bmp if did % 2 else multimodal.encode_ppm
                rows.append({"media_id": f"{did:06d}", "payload": enc(px)})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return docs.mapInPandas(make_media, media_schema)


Q98_SQL = """
WITH d AS (
  SELECT doc_id, 5 + doc_id % 7 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 120
)
SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(list_sum([(doc_id * 31 + (3 * p) * 7) % 256 for p in range(0, w * h)]) AS BIGINT) AS r_sum,
       CAST(list_sum([(doc_id * 31 + (3 * p + 1) * 7) % 256 for p in range(0, w * h)]) AS BIGINT) AS g_sum,
       CAST(list_sum([(doc_id * 31 + (3 * p + 2) * 7) % 256 for p in range(0, w * h)]) AS BIGINT) AS b_sum
FROM d
"""


def q101_image_downsample(spark, sf_dir):
    """Image resize via area (block-mean) downsampling over REAL encoded
    bytes: the q98 fixture media (formula pixels -> PPM/BMP bytes) is
    decoded and pooled to a 4x4 grid in ONE fused mapInPandas stage
    (multimodal.downsample_block_mean). Pixel (y, x) maps to cell
    (y*4 // h, x*4 // w) — integer-exact area partition, no float
    resampling grid — and each cell emits the exact integer sum over
    all channels plus the sample count, so the DuckDB oracle replays
    the decode+pool with pure modular/div arithmetic. Any stride /
    BGR / row-order decode bug lands in the wrong cell and breaks the
    per-cell sums (a sharper gate than q98's whole-image sums)."""
    from pda_spark.functions import multimodal

    media = _synth_coded_media(_t(spark, sf_dir, "documents"))
    return multimodal.downsample_block_mean(media, out_w=4, out_h=4)


Q101_SQL = """
WITH d AS (
  SELECT doc_id, 5 + doc_id % 7 AS w, 4 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 120
), px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM d
), cell AS (
  SELECT doc_id,
         CAST(((p // w) * 4) // h AS INTEGER) AS by,
         CAST(((p % w) * 4) // w AS INTEGER) AS bx,
         (doc_id * 31 + (3 * p) * 7) % 256
           + (doc_id * 31 + (3 * p + 1) * 7) % 256
           + (doc_id * 31 + (3 * p + 2) * 7) % 256 AS v
  FROM px
)
SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS media_id, by, bx,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(count(*) * 3 AS BIGINT) AS n_px,
       round_even(CAST(sum(v) AS DOUBLE) / (count(*) * 3), 6) AS mean_px
FROM cell GROUP BY doc_id, by, bx
"""


def q104_tile_pyramid(spark, sf_dir):
    """Multi-zoom tile-pyramid rollup (the slippy-map aggregation a
    tiling backend serves at every zoom — reference renders per-tile
    heat layers, app/maps.py): event points aggregate
    ONCE at zoom 8, then the per-cell table rolls up zooms 4..8 through
    pure Catalyst bit shifts (ix >> (8 - z)). The oracle replays the
    shifts on the identical clamped child indices — exact because the
    grids nest (floor(floor(v*256)/2^k) == floor(v*2^(8-k)))."""
    from pda_spark.operators import tiling

    res = 8
    cnt = _cell_counts(spark, sf_dir, res)
    pyr = tiling.tile_pyramid(cnt, res=res, min_res=4)
    return pyr.select("zoom", "tx", "ty", F.col("n").alias("n_points"))


Q104_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
c AS (
  SELECT {_Q94_IX} AS ix8,
         {_Q94_IY} AS iy8,
         count(*) AS n
  FROM pts GROUP BY 1, 2
)
SELECT zoom, ix8 >> (8 - zoom) AS tx, iy8 >> (8 - zoom) AS ty,
       CAST(sum(n) AS BIGINT) AS n_points
FROM c CROSS JOIN (VALUES (4), (5), (6), (7), (8)) AS z(zoom)
GROUP BY 1, 2, 3
"""


def q105_geohash(spark, sf_dir):
    """Geohash encode (the public base-32 cell index every geo stack
    speaks) — pure Catalyst: quantize, Morton interleave (shared magic-
    mask table, the q94 discipline), base-32 chars via an array-literal
    lookup. Precisions 6 and 8 exercise both bit widths; the oracle is
    generated from the SAME constants by geo_udfs.geohash_sql."""
    pts = _event_points(spark, sf_dir).filter(F.pmod(F.col("event_id"), F.lit(23)) == 0)
    return pts.select(
        "event_id",
        geo_udfs.geohash_expr(F.col("lon"), F.col("lat"), 6).alias("gh6"),
        geo_udfs.geohash_expr(F.col("lon"), F.col("lat"), 8).alias("gh8"),
    )


Q105_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL})
SELECT event_id,
       {geo_udfs.geohash_sql('lon', 'lat', 6)} AS gh6,
       {geo_udfs.geohash_sql('lon', 'lat', 8)} AS gh8
FROM pts WHERE event_id % 23 = 0
"""


def q108_focal_gradient(spark, sf_dir):
    """Central-difference raster gradient (GIS slope/aspect primitive,
    the q87 scatter-gather shape): per-cell counts emit +v/-v to their
    four axis neighbors' difference sums plus a presence flag, one
    grouped sum, integer-exact dzdx/dzdy/slope_sq. Absent neighbors
    contribute 0 (sparse-raster convention); only cells that CARRY a
    value are emitted (presence filter)."""
    from pda_spark.operators import tiling

    res = 6
    cnt = _cell_counts(spark, sf_dir, res)
    return tiling.focal_gradient(cnt, res=res)


Q108_SQL = f"""
WITH {_CELL_COUNTS_6_CTES}, sc AS (
  SELECT ix + dx AS rix, iy + dy AS riy, n * wx AS gx, n * wy AS gy, p
  FROM cnt
  CROSS JOIN (VALUES (-1, 0, 1, 0, 0), (1, 0, -1, 0, 0),
                     (0, -1, 0, 1, 0), (0, 1, 0, -1, 0),
                     (0, 0, 0, 0, 1)) AS o(dx, dy, wx, wy, p)
  WHERE ix + dx BETWEEN 0 AND {_N6 - 1} AND iy + dy BETWEEN 0 AND {_N6 - 1}
)
SELECT (6::BIGINT * 288230376151711744 + (rix << 29) + riy) AS cell,
       CAST(sum(gx) AS BIGINT) AS dzdx,
       CAST(sum(gy) AS BIGINT) AS dzdy,
       CAST(sum(gx) * sum(gx) + sum(gy) * sum(gy) AS BIGINT) AS slope_sq
FROM sc GROUP BY rix, riy HAVING sum(p) > 0
"""


_N7 = 1 << 7


def q109_morans_i(spark, sf_dir):
    """Global Moran's I spatial autocorrelation over the res-7 event
    grid (binary queen weights among occupied cells). All four
    components are order-independent INTEGER sums (d_i = m*x_i - S keeps
    the deviation integral); the assembled statistic is one exact
    integer ratio, so both engines produce the identical double. The
    oracle uses a genuinely different algorithm — an inequality
    self-join on |dix|<=1, |diy|<=1 — against Spark's scatter-gather
    equi-join, so the pair set itself is cross-checked."""
    from pda_spark.operators import tiling

    res = 7
    cnt = _cell_counts(spark, sf_dir, res)
    return tiling.morans_i_components(cnt, res=res)


Q109_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
), tot AS (
  SELECT count(*) AS m, CAST(sum(n) AS BIGINT) AS s FROM cnt
), dev AS (
  SELECT ix, iy, m * n - s AS d, m FROM cnt CROSS JOIN tot
), pairs AS (
  SELECT a.d AS di, b.d AS dj
  FROM dev a JOIN dev b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1
   AND NOT (a.ix = b.ix AND a.iy = b.iy)
)
SELECT (SELECT m FROM tot) AS m_cells,
       (SELECT count(*) FROM pairs) AS w_pairs,
       (SELECT CAST(sum(di * dj) AS BIGINT) FROM pairs) AS num_scaled,
       (SELECT CAST(sum(d * d) AS BIGINT) FROM dev) AS den_scaled,
       CAST((SELECT m FROM tot) * (SELECT CAST(sum(di * dj) AS BIGINT) FROM pairs) AS DOUBLE)
         / CAST((SELECT count(*) FROM pairs) * (SELECT CAST(sum(d * d) AS BIGINT) FROM dev) AS DOUBLE)
         AS morans_i
"""


def q114_density_clusters(spark, sf_dir):
    """Grid-density clustering (DBSCAN-on-a-grid hot spots): res-6 event
    cells with >= 15 points are dense; queen-adjacent dense cells merge
    via the large-star/small-star connected-components rounds; label =
    min member cell id. The oracle computes the SAME components by a
    completely different mechanism — a recursive-CTE transitive closure
    with a min over reachable cells — so the O(log n) star contraction
    is cross-checked against textbook reachability."""
    from pda_spark.operators import tiling

    res = 6
    cnt = _cell_counts(spark, sf_dir, res)
    return tiling.density_clusters(cnt, res=res, min_pts=15)


Q114_SQL = f"""
WITH RECURSIVE {_CELL_COUNTS_6_CTES}, dense AS (
  SELECT (6::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell,
         CAST(n AS BIGINT) AS n, ix, iy
  FROM cnt WHERE n >= 15
), e AS (
  SELECT a.cell AS ca, b.cell AS cb
  FROM dense a JOIN dense b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1 AND a.cell <> b.cell
), reach(cell, r) AS (
  SELECT cell, cell FROM dense
  UNION
  SELECT e.ca, reach.r FROM e JOIN reach ON e.cb = reach.cell
)
SELECT d.cell, d.n, m.cluster_id
FROM dense d JOIN (SELECT cell, min(r) AS cluster_id FROM reach GROUP BY cell) m
  USING (cell)
"""


def q119_getis_ord(spark, sf_dir):
    """Local Getis-Ord Gi* hot-spot z-score per occupied res-7 event
    cell (binary queen weights including self). All per-cell components
    are order-independent integer sums and the assembled z replays a
    fixed IEEE op sequence, so both engines emit identical doubles. The
    oracle gathers each window with an inequality self-join (|dix|<=1
    AND |diy|<=1, self included) against Spark's scatter-gather
    equi-join — the window membership itself is cross-checked by a
    different algorithm (the q109 pattern)."""
    from pda_spark.operators import tiling

    res = 7
    cnt = _cell_counts(spark, sf_dir, res)
    return tiling.getis_ord_components(cnt, res=res)


Q119_SQL = f"""
WITH pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS iy,
         CAST(count(*) AS BIGINT) AS x
  FROM pts GROUP BY 1, 2
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sx2
  FROM cnt
), win AS (
  SELECT a.ix, a.iy, a.x,
         CAST(count(*) AS BIGINT) AS w_nbrs,
         CAST(sum(b.x) AS BIGINT) AS wx_sum
  FROM cnt a JOIN cnt b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1
  GROUP BY 1, 2, 3
)
SELECT (7::BIGINT * 288230376151711744 + (ix << 29) + iy) AS cell,
       x, w_nbrs, wx_sum,
       m * wx_sum - sx * w_nbrs AS num_scaled,
       CASE WHEN m >= 2 AND m * w_nbrs - w_nbrs * w_nbrs > 0 THEN
         CAST(m * wx_sum - sx * w_nbrs AS DOUBLE)
         / sqrt(CAST(m * sx2 - sx * sx AS DOUBLE)
                * CAST(m * w_nbrs - w_nbrs * w_nbrs AS DOUBLE)
                / CAST(m - 1 AS DOUBLE))
       END AS gi_z
FROM win CROSS JOIN tot
"""


def q111_hilbert(spark, sf_dir):
    """Hilbert-curve layout key (the stronger sibling of the q94
    Z-order: consecutive keys are always grid-adjacent, so row-group
    bboxes are strictly tighter). Event points -> res-7 grid coords ->
    the classic xy2d bit loop unrolled as a Catalyst projection chain;
    the oracle replays the IDENTICAL level chain as DuckDB CTEs
    generated from the same loop (geo_udfs.hilbert_sql)."""
    res = 7
    pts = _event_points(spark, sf_dir).filter(F.pmod(F.col("event_id"), F.lit(17)) == 0)
    cell = geo_udfs.cell_of_xy_expr("lon", "lat", res)
    mask = (1 << 29) - 1
    df = pts.select(
        "event_id",
        F.shiftright(cell, 29).bitwiseAND(F.lit(mask)).alias("gx"),
        cell.bitwiseAND(F.lit(mask)).alias("gy"),
    )
    out = geo_udfs.hilbert_key(df, "gx", "gy", res)
    return out.select("event_id", "gx", "gy", "hilbert_d")


_Q111_SRC = f"""
SELECT event_id,
       least(greatest(floor((lon + 180.0) / 360.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS gx,
       least(greatest(floor((lat + 90.0) / 180.0 * {_N7}), 0), {_N7 - 1})::BIGINT AS gy
FROM ({_EVENT_POINTS_SQL})
WHERE event_id % 17 = 0
"""

Q111_SQL = geo_udfs.hilbert_sql(_Q111_SRC, ["event_id", "gx", "gy"], "gx", "gy", 7)


def q137_d8_flow(spark, sf_dir):
    """D8 steepest-descent flow direction over the res-6 event-count
    grid (tiling.d8_flow_direction — O'Callaghan & Mark 1984): each
    occupied cell points at its steepest strictly-lower OCCUPIED
    neighbor, diagonal drops weighted 1/sqrt(2) via the integer-exact
    2*dc^2-vs-dd^2 compare; ESRI codes, 0 = sink. The oracle re-derives
    with the same VALUES-table scatter but an independent join shape."""
    from pda_spark.operators import tiling

    res = 6
    cnt = _cell_counts(spark, sf_dir, res)
    return tiling.d8_flow_direction(cnt, res)


# D8 steepest descent: CTE `best` holds each cell's packed (drop, -code) maximum
_D8_BEST_CTES = f"""{_CELL_COUNTS_6_CTES}, sc AS (
  SELECT ix - dx AS rix, iy - dy AS riy, code, w, n AS dv
  FROM cnt
  CROSS JOIN (VALUES (1, 0, 1, 2), (1, -1, 2, 1), (0, -1, 4, 2), (-1, -1, 8, 1),
                     (-1, 0, 16, 2), (-1, 1, 32, 1), (0, 1, 64, 2), (1, 1, 128, 1))
       AS o(dx, dy, code, w)
  WHERE ix - dx BETWEEN 0 AND {_N6 - 1} AND iy - dy BETWEEN 0 AND {_N6 - 1}
), best AS (
  SELECT c.ix, c.iy,
         max(struct_pack(key := (c.n - s.dv) * (c.n - s.dv) * s.w, negcode := -s.code)) AS b
  FROM cnt c JOIN sc s ON c.ix = s.rix AND c.iy = s.riy
  WHERE c.n - s.dv > 0
  GROUP BY c.ix, c.iy
)"""

Q137_SQL = f"""
WITH {_D8_BEST_CTES}
SELECT c.ix::BIGINT AS ix, c.iy::BIGINT AS iy, c.n::BIGINT AS n,
       CAST(coalesce(-struct_extract(b.b, 'negcode'), 0) AS BIGINT) AS flow_dir
FROM cnt c LEFT JOIN best b ON c.ix = b.ix AND c.iy = b.iy
"""


def q142_flow_accumulation(spark, sf_dir):
    """D8 flow ACCUMULATION over the res-6 event grid (the q137 pair):
    bounded leaf-to-root iteration over the D8 forest (acyclic by
    construction — every edge drops strictly). The oracle re-derives
    with a genuinely different algorithm: a recursive-CTE transitive
    closure counting, for each cell, every cell whose descent path
    passes through it."""
    from pda_spark.operators import tiling

    res = 6
    cnt = _cell_counts(spark, sf_dir, res)
    return tiling.flow_accumulation(cnt, res)


_D8_CTES = f"""
{_D8_BEST_CTES}, flow AS (
  SELECT c.ix, c.iy, c.n,
         CAST(coalesce(-struct_extract(b.b, 'negcode'), 0) AS BIGINT) AS flow_dir
  FROM cnt c LEFT JOIN best b ON c.ix = b.ix AND c.iy = b.iy
)"""

Q142_SQL = f"""
WITH RECURSIVE {_D8_CTES},
edges AS (
  SELECT ix AS cix, iy AS ciy,
         ix + CASE flow_dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 128 THEN 1
                            WHEN 8 THEN -1 WHEN 16 THEN -1 WHEN 32 THEN -1
                            ELSE 0 END AS pix,
         iy + CASE flow_dir WHEN 2 THEN -1 WHEN 4 THEN -1 WHEN 8 THEN -1
                            WHEN 32 THEN 1 WHEN 64 THEN 1 WHEN 128 THEN 1
                            ELSE 0 END AS piy
  FROM flow WHERE flow_dir > 0
), reach AS (
  SELECT ix AS six, iy AS siy, ix, iy FROM flow
  UNION ALL
  SELECT r.six, r.siy, e.pix, e.piy
  FROM reach r JOIN edges e ON r.ix = e.cix AND r.iy = e.ciy
)
SELECT f.ix, f.iy, f.n, f.flow_dir, CAST(cnt_reach AS BIGINT) AS acc
FROM flow f JOIN (
  SELECT ix, iy, count(*) AS cnt_reach FROM reach GROUP BY ix, iy
) r ON f.ix = r.ix AND f.iy = r.iy
"""
