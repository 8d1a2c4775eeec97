"""Fixtures that more than one registry query uses, each defined once.

Each Spark builder sits next to its DuckDB twin (a SQL constant, CTE or
fragment). The two are written independently: neither is derived from the
other, so an oracle match checks both.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pda_spark.functions import geo_udfs
from pda_spark.geo import wkb as W


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table `name` of the scale-factor directory `sf_dir`."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pandas_udf(T.BinaryType())
def _mk_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(W.points_vec(lon.to_numpy(), lat.to_numpy()))


@pandas_udf(T.BinaryType())
def _mk_box(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
    return pd.Series([W.box(a, b, c, d) for a, b, c, d in zip(minx, miny, maxx, maxy)])


@pandas_udf(T.BinaryType())
def _mk_segment(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
    """Two-point LineString WKB (road segments for the line x line join)."""
    import numpy as np

    return pd.Series(
        [W.linestring(np.array([[a, b], [c, d]])) for a, b, c, d in zip(x0, y0, x1, y1)]
    )


@pandas_udf(T.BinaryType())
def _mk_staircase(ax: pd.Series, ay: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    """Axis-aligned 3-segment river centerline H-V-H:
    (ax,ay) -> (ax+w,ay) -> (ax+w,ay+h) -> (ax+2w,ay+h). LineString WKB,
    mirroring the reference's river/lake centerlines
    (api_importer/clients/geojson_xyz.py:59-70)."""
    import numpy as np

    return pd.Series(
        [
            W.linestring(np.array([[a, b], [a + ww, b], [a + ww, b + hh], [a + 2 * ww, b + hh]]))
            for a, b, ww, hh in zip(ax, ay, w, h)
        ]
    )


@pandas_udf(T.BinaryType())
def _mk_staircase_dense(ax: pd.Series, ay: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    """The q48 H-V-H staircase with a redundant COLLINEAR midpoint on
    each segment (7 vertices) — the DP-simplify fixture."""
    import numpy as np

    out = []
    for a, b, ww, hh in zip(ax, ay, w, h):
        pts = np.array(
            [
                [a, b],
                [a + ww / 2, b],
                [a + ww, b],
                [a + ww, b + hh / 2],
                [a + ww, b + hh],
                [a + 1.5 * ww, b + hh],
                [a + 2 * ww, b + hh],
            ]
        )
        out.append(W.linestring(pts))
    return pd.Series(out)


@pandas_udf(T.BinaryType())
def _mk_river_line(ax: pd.Series, ay: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    """5-vertex river centerline: the q48 H-V-H staircase plus one
    DIAGONAL tail segment (exercises the hypot leg of ST_Length):
    (ax,ay) -> (ax+w,ay) -> (ax+w,ay+h) -> (ax+2w,ay+h) -> (ax+3w,ay+2h)."""
    import numpy as np

    return pd.Series(
        [
            W.linestring(
                np.array(
                    [
                        [a, b],
                        [a + ww, b],
                        [a + ww, b + hh],
                        [a + 2 * ww, b + hh],
                        [a + 3 * ww, b + 2 * hh],
                    ]
                )
            )
            for a, b, ww, hh in zip(ax, ay, w, h)
        ]
    )


# deterministic point derivation from events (see the registry conventions)
def _event_points(spark, sf_dir) -> DataFrame:
    # No plan-level repartition: spark.sql.files.minPartitionNum (set in
    # session.get_spark) splits even one small parquet file across cores
    # at the scan, so the plan carries no Exchange the 100 TB story would
    # have to explain away.
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn(
        "lon", F.pmod(F.col("user_id") * 97 + F.col("event_id") * 31, F.lit(4000)) / 100.0 - 20.0
    ).withColumn(
        "lat", F.pmod(F.col("event_id") * 57 + F.col("user_id") * 13, F.lit(2500)) / 100.0 + 36.0
    )


_EVENT_POINTS_SQL = """
    SELECT *,
           ((user_id * 97 + event_id * 31) % 4000) / 100.0 - 20.0 AS lon,
           ((event_id * 57 + user_id * 13) % 2500) / 100.0 + 36.0 AS lat
    FROM events
"""


def _event_point_geoms(spark, sf_dir) -> DataFrame:
    """_event_points with a WKB point: (event_id, geom, lon, lat)."""
    pts = _event_points(spark, sf_dir)
    return pts.withColumn("geom", _mk_point(F.col("lon"), F.col("lat"))).select(
        "event_id", "geom", "lon", "lat"
    )


def _events_us(spark, sf_dir):
    """Events with their timestamp in epoch microseconds, `us`."""
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))


def _cell_counts(spark, sf_dir, res: int) -> DataFrame:
    """Events per occupied res-`res` grid cell: (cell, n)."""
    return (
        _event_points(spark, sf_dir)
        .withColumn("cell", geo_udfs.cell_of_xy_expr("lon", "lat", res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_N6 = 1 << 6
# the SQL twin of _cell_counts at res 6: CTEs `pts` and `cnt` (ix, iy, n)
_CELL_COUNTS_6_CTES = f"""pts AS ({_EVENT_POINTS_SQL}),
cnt AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS ix,
         least(greatest(floor((lat + 90.0) / 180.0 * {_N6}), 0), {_N6 - 1})::BIGINT AS iy,
         count(*) AS n
  FROM pts GROUP BY 1, 2
)"""


def _cell_sql(res: int, lon: str = "lon", lat: str = "lat") -> str:
    """SQL twin of geo_udfs.cell_of_xy_expr: the packed res-`res` cell id."""
    n = 1 << res
    return (
        f"({res}::BIGINT * 288230376151711744 "
        f"+ (least(greatest(floor(({lon} + 180.0) / 360.0 * {n}), 0), {n - 1})::BIGINT << 29) "
        f"+ least(greatest(floor(({lat} + 90.0) / 180.0 * {n}), 0), {n - 1})::BIGINT)"
    )


# five literal test boxes (bounds at .005 so no derived point sits on a
# boundary: derived lon/lat are exact multiples of 0.01)
BOXES = [
    (0, -15.005, 38.005, -5.005, 48.005),
    (1, -5.005, 40.005, 5.005, 52.005),
    (2, 2.005, 44.005, 12.005, 58.005),
    (3, 8.005, 36.505, 18.005, 50.505),
    (4, 12.005, 42.005, 19.505, 60.505),
]

# q70 fixture: wildly mixed extents — the five ~10-degree BOXES, two
# ~0.25-degree scene boxes, one ~20x22-degree continent box
MIXED_BOXES = BOXES + [
    (7, -10.005, 44.005, -9.755, 44.255),
    (8, 5.005, 47.005, 5.255, 47.255),
    (9, -19.005, 37.005, 1.005, 59.005),
]


def _box_table(spark, boxes=BOXES) -> DataFrame:
    """A box list as a (box_id, box_geom WKB) polygon table."""
    return spark.createDataFrame(
        [(b[0], bytearray(W.box(b[1], b[2], b[3], b[4]))) for b in boxes],
        "box_id int, box_geom binary",
    )


def _boxes_cte(boxes=BOXES) -> str:
    """The SQL twin of _box_table: a `boxes` CTE of the box bounds."""
    return f"""boxes(box_id, minx, miny, maxx, maxy) AS (
  VALUES {', '.join(f'({b[0]}, {b[1]}, {b[2]}, {b[3]}, {b[4]})' for b in boxes)}
)"""


# five kNN query points (offsets avoid symmetric distance ties)
KNN_QUERIES = [
    (0, -10.0015, 45.0015),
    (1, 0.0015, 50.0015),
    (2, 10.0015, 42.0015),
    (3, 15.0015, 55.0015),
    (4, -5.0015, 58.0015),
]


def _knn_query_table(spark) -> DataFrame:
    """KNN_QUERIES as a (query_id, qgeom WKB point) table."""
    return spark.createDataFrame(
        [(q[0], bytearray(W.point(q[1], q[2]))) for q in KNN_QUERIES],
        "query_id int, qgeom binary",
    )


# the SQL twin of KNN_QUERIES: the rows of a VALUES list
_KNN_QUERIES_VALUES = ", ".join(f"({q[0]}, {q[1]}, {q[2]})" for q in KNN_QUERIES)


def _part_rects(spark, sf_dir) -> DataFrame:
    """Shared deterministic rectangle fixture over the part table
    (p_partkey % 7), used by q43 (shoelace area), q79 (dilation), and
    q82 (erosion) — ONE derivation so the three paired closed-form
    oracles can never drift from the fixture (round-5 review)."""
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(7)) == 0)
    rect = p.select(
        "p_partkey",
        (F.pmod(F.col("p_partkey") * 13, F.lit(3000)) / 100.0 - 15.0).alias("minx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(2000)) / 100.0 + 38.0).alias("miny"),
        (F.col("p_size") / 10.0 + 0.1).alias("w"),
        (F.pmod(F.col("p_partkey"), F.lit(5)) / 10.0 + 0.2).alias("h"),
    )
    return rect.withColumn(
        "geom",
        _mk_box(F.col("minx"), F.col("miny"), F.col("minx") + F.col("w"), F.col("miny") + F.col("h")),
    )


def _image_rects(spark, sf_dir) -> DataFrame:
    """Square image footprints over orders (o_orderkey % 37): centre
    (ix, iy), half-side ih, box WKB in `geom`."""
    o = _t(spark, sf_dir, "orders").filter(F.pmod(F.col("o_orderkey"), F.lit(37)) == 0)
    img = o.select(
        F.col("o_orderkey").alias("img_id"),
        (F.pmod(F.col("o_orderkey") * 7, F.lit(4000)) / 100.0 - 20.0).alias("ix"),
        (F.pmod(F.col("o_orderkey") * 11, F.lit(2200)) / 100.0 + 37.0).alias("iy"),
        (F.pmod(F.col("o_orderkey"), F.lit(10)) / 20.0 + 0.05).alias("ih"),
    )
    return img.withColumn("geom", _mk_box(F.col("ix") - F.col("ih"), F.col("iy") - F.col("ih"),
                                          F.col("ix") + F.col("ih"), F.col("iy") + F.col("ih")))


_IMAGE_RECTS_SQL = """
  SELECT o_orderkey AS img_id,
         ((o_orderkey * 7) % 4000) / 100.0 - 20.0 AS ix,
         ((o_orderkey * 11) % 2200) / 100.0 + 37.0 AS iy,
         (o_orderkey % 10) / 20.0 + 0.05 AS ih
  FROM orders WHERE o_orderkey % 37 = 0
"""


def _landcover_rects(spark, sf_dir) -> DataFrame:
    """Square land-cover patches over part (p_partkey % 11): centre
    (cx, cy), half-side ch, box WKB in `lc_geom`. The .0013 offsets keep
    every patch edge off every image edge."""
    p = _t(spark, sf_dir, "part").filter(F.pmod(F.col("p_partkey"), F.lit(11)) == 0)
    lc = p.select(
        F.col("p_partkey").alias("lc_id"),
        (F.pmod(F.col("p_partkey") * 13, F.lit(4000)) / 100.0 - 19.9987).alias("cx"),
        (F.pmod(F.col("p_partkey") * 17, F.lit(2200)) / 100.0 + 37.0013).alias("cy"),
        (F.pmod(F.col("p_partkey"), F.lit(8)) / 10.0 + 0.2).alias("ch"),
    )
    return lc.withColumn("lc_geom", _mk_box(F.col("cx") - F.col("ch"), F.col("cy") - F.col("ch"),
                                            F.col("cx") + F.col("ch"), F.col("cy") + F.col("ch")))


_LANDCOVER_RECTS_SQL = """
  SELECT p_partkey AS lc_id,
         ((p_partkey * 13) % 4000) / 100.0 - 19.9987 AS cx,
         ((p_partkey * 17) % 2200) / 100.0 + 37.0013 AS cy,
         (p_partkey % 8) / 10.0 + 0.2 AS ch
  FROM part WHERE p_partkey % 11 = 0
"""


def _rivers(spark, sf_dir) -> DataFrame:
    """Shared deterministic river dimension (see q48 docstring)."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("river_id"),
        (F.pmod(F.col("n_nationkey") * 19, F.lit(3600)) / 100.0 - 19.0).alias("ax"),
        (F.pmod(F.col("n_nationkey") * 23, F.lit(2000)) / 100.0 + 38.0).alias("ay"),
        (F.pmod(F.col("n_nationkey"), F.lit(5)) / 10.0 + 0.4).alias("w"),
        (F.pmod(F.col("n_nationkey") * 3, F.lit(7)) / 10.0 - 0.35).alias("h"),
    )


_RIVERS_SQL = """
  SELECT n_nationkey AS river_id,
         ((n_nationkey * 19) % 3600) / 100.0 - 19.0 AS ax,
         ((n_nationkey * 23) % 2000) / 100.0 + 38.0 AS ay,
         (n_nationkey % 5) / 10.0 + 0.4 AS w,
         ((n_nationkey * 3) % 7) / 10.0 - 0.35 AS h
  FROM nation
"""


# authalic-sphere radius (geo/proj.py RQ), full double precision
_RQ_REPR = "6371007.1808835175"


def _topk_sql(cols: str, part: str, order: str, k: int) -> str:
    """The `k` best rows of CTE `scored` per `part` by `order`, with
    their 1-based `rank` as the last column."""
    return f"""
SELECT {cols}, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY {part} ORDER BY {order}) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _lsh_bucket_sql(planes, vec: str) -> str:
    """SQL twin of the LSH signature: bit i is set when `vec` lies on the
    positive side of hyperplane i."""
    bits = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product({vec}::DOUBLE[], {arr}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _url_norm_ctes(carry: str) -> str:
    """The step/parts/norm oracle CTE chain twin of text.normalize_url
    — ONE copy (review finding: Q54/Q145 carried verbatim duplicates; a
    normalize_url change must update exactly one SQL twin). Expects a
    prior CTE ``raw`` with columns (url, <carry>); ``norm`` emits
    (<carry>, url_norm, host)."""
    return rf"""step AS (
  SELECT {carry},
         regexp_replace(regexp_replace(url, '#.*$', ''), '\?utm_[^?]*$', '') AS u
  FROM raw
), parts AS (
  SELECT {carry}, u,
         lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1)),
                        '^www\.', '') AS hostport,
         regexp_replace(regexp_extract(u, '^[A-Za-z]+://[^/?#]+([/?].*)?$', 1),
                        '/$', '') AS rest
  FROM step
), norm AS (
  SELECT {carry},
         scheme || '://'
         || (CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  ELSE regexp_replace(hostport, ':80$', '') END)
         || rest AS url_norm,
         regexp_replace(lower(regexp_extract(u, '^[A-Za-z]+://([^/:?#]+)', 1)),
                        '^www\.', '') AS host
  FROM parts
)"""
