"""Raster <-> vector zonal operators: tile rasterization + cell-partitioned
exact union areas (BASELINE north_star: "performs raster<->vector zonal
joins by rasterizing land-cover classes to tile grids").

Two layers:

1. ``rasterize_polygons`` — polygons -> (key, tile) rows at a chosen
   resolution (tile ids are the engine's int64 cells). Tiles whose
   rectangle intersects the geometry are emitted; this is the raster side
   of a zonal join and a plain equi-join key against any tiled point /
   raster table.

2. ``union_area_by_cells`` — the SCALE path for the dissolve/coverage
   UDAF (operators/dissolve.py is exact but inclusion-exclusion is
   exponential in overlapping-ring count). Cells partition the plane, so
   area(union(polys)) == sum over cells of area(union(polys clipped to
   cell)). Clipping to a cell box is an exact Sutherland-Hodgman convex
   clip, each per-cell subproblem is small (bounded by local overlap
   density), and the whole computation is one explode + one grouped
   aggregation — the partial/final split of a geometric UDAF, with the
   shuffle keyed on (key, cell) so hot classes spread over many tasks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pda_spark.functions import geo_udfs
from pda_spark.geo import sweep, wkb
from pda_spark.session import keyed_width


def rasterize_polygons(
    polygons: DataFrame,
    res: int,
    key: str = "featureclass",
    geom: str = "geom",
    tight: bool = True,
) -> DataFrame:
    """Polygons -> (key, tile) assignments at resolution ``res``.

    ``tight`` drops tiles that only touch the bbox, not the geometry
    (exact-clip test per cell, Arrow UDF). ``tight=False`` runs the
    bbox cover as ONE Arrow bbox decode + a codegen'd JVM fan-out —
    ~10x the tile throughput, and equal to tight for axis-aligned
    footprints. Output is deduplicated per (key, tile) — the zonal-join
    contract is 'this class covers this tile', not one row per source
    polygon.
    """
    if tight:
        cover = F.explode(geo_udfs.cover_cells(res, tight=True)(F.col(geom)))
        out = polygons.select(F.col(key).alias("key"), cover.alias("tile"))
    else:
        bb = geo_udfs.bbox_arr(F.col(geom))
        tmp = polygons.select(F.col(key).alias("key"), bb.alias("_bb"))
        cover = geo_udfs.cover_cells_bbox_expr(
            F.col("_bb")[0], F.col("_bb")[1], F.col("_bb")[2], F.col("_bb")[3], res
        )
        out = tmp.select("key", F.explode(cover).alias("tile"))
    return out.dropDuplicates(["key", "tile"])


def cluster_by_cell(df: DataFrame, cell_col: str = "tile", num_partitions: int | None = None) -> DataFrame:
    """Range-partition + sort by cell id before writing (the north-star's
    'repartitionByRange on cell id'): output parquet files then hold
    disjoint, sorted cell ranges, so any downstream cell-range predicate
    prunes whole files via parquet min/max stats, and cell-keyed
    merge-joins read co-located data. Spatially adjacent cells share the
    int64 prefix (res<<58|ix<<29|iy), so ranges are also spatially
    coherent per x-stripe."""
    parts = [num_partitions] if num_partitions else []
    return df.repartitionByRange(*parts, F.col(cell_col)).sortWithinPartitions(cell_col)


def zonal_count_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    key: str = "featureclass",
    poly_geom: str = "geom",
    point_tile: str = "tile",
) -> DataFrame:
    """Zonal statistics: per polygon-class count of tiled points. The
    raster side is broadcast when small; the point side never shuffles
    (pre-tiled fact table). Approximate by construction at coarse ``res``
    (tile granularity) — the exact path is points_in_polygons_join."""
    raster = rasterize_polygons(polygons, res, key=key, geom=poly_geom)
    return (
        points.join(F.broadcast(raster), points[point_tile] == raster["tile"], "inner")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("cell", T.LongType()),
        T.StructField("area", T.DoubleType()),
    ]
)


def union_area_by_cells(
    polygons: DataFrame,
    res: int,
    key: str = "featureclass",
    geom: str = "geom",
) -> DataFrame:
    """Exact planar union area per key, cell-partitioned (scale path for
    ST_UNION GROUP BY — see module docstring). Returns (key, union_area).

    Handles arbitrary simple polygons WITH holes (holes are clipped per
    cell alongside outer rings and subtracted by the scanline kernel's
    even-odd fill — round-1 dropped holes here). Per-cell cost is
    polynomial in local piece count (geo.sweep), so no density cap."""
    from pda_spark.operators.dissolve import cell_pieces

    pieces = cell_pieces(polygons, res, geom=geom, key_col=key)

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        polys = [wkb.decode(bytes(buf)).polygons()[0] for buf in pdf["piece"]]
        area = sweep.union_area(polys)
        return pd.DataFrame(
            {"key": [pdf["key"].iloc[0]], "cell": [pdf["cell"].iloc[0]], "area": [area]}
        )

    # explicit count (session.keyed_width): AQE coalesced this few-byte,
    # compute-heavy stage to one task
    partials = (
        pieces.repartition(keyed_width(pieces), "key", "cell")
        .groupBy("key", "cell")
        .applyInPandas(per_cell, _PARTIAL_SCHEMA)
    )
    return partials.groupBy("key").agg(F.round(F.sum("area"), 12).alias("union_area"))


def tile_pyramid(
    cell_counts: DataFrame,
    res: int,
    min_res: int = 0,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """Multi-zoom tile-pyramid rollup (the slippy-map / hypertile
    aggregation every tiling backend serves — the reference renders
    per-tile heat layers at several zooms, /root/reference/app/maps.py):
    per-cell aggregates at the finest resolution ``res`` roll up to
    every ancestor zoom in [min_res, res].

    Spark-first shape: aggregate ONCE at the finest zoom (the only
    shuffle over raw data happens upstream of this operator), then
    explode the already-tiny per-cell table over the zoom levels and
    re-aggregate — parent coordinates are pure Catalyst bit shifts
    (ix >> (res - z)), identical to clamping at the coarser grid because
    the grids nest exactly (floor(floor(v*2^res)/2^(res-z)) ==
    floor(v*2^z)). At 100 TB the pyramid shuffle moves only
    O(cells * levels) rows, never the raw points. Output one row per
    (zoom, tile): packed cell id plus (tx, ty) grid coords."""
    ix = F.shiftright(F.col(cell_col), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col(cell_col).bitwiseAND(F.lit((1 << 29) - 1))
    zoom = F.explode(F.sequence(F.lit(min_res), F.lit(res))).alias("zoom")
    donors = cell_counts.select(
        ix.alias("_ix"), iy.alias("_iy"), F.col(value_col).alias("_v")
    ).select("_ix", "_iy", "_v", zoom)
    scattered = donors.select(
        "zoom",
        F.expr(f"shiftright(_ix, {res} - zoom)").alias("tx"),
        F.expr(f"shiftright(_iy, {res} - zoom)").alias("ty"),
        "_v",
    )
    agg = scattered.groupBy("zoom", "tx", "ty").agg(F.sum("_v").alias("_sum"))
    cell_out = (
        F.col("zoom").cast("long") * F.lit(1 << 58)
        + F.shiftleft(F.col("tx").cast("long"), 29)
        + F.col("ty").cast("long")
    )
    return agg.select(
        "zoom",
        cell_out.alias(cell_col),
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.col("_sum").cast("long").alias(value_col),
    )


def focal_gradient(
    cell_counts: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """Central-difference gradient over the cell grid (the raster
    slope/aspect primitive — GIS "slope" from a DEM band): for each cell
    carrying a value, dz/dx = v(east) - v(west) and dz/dy = v(north) -
    v(south), with absent neighbors contributing 0 (standard sparse-
    raster convention, documented). Emits the integer-exact gradient
    components and slope_sq = dzdx^2 + dzdy^2 (the squared gradient
    magnitude — kept integer so any engine reproduces it bit-for-bit;
    callers wanting degrees apply atan/sqrt on top).

    Same scatter-gather shape as focal_stats: each donor contributes
    +v/-v to its four axis neighbors' difference sums plus a presence
    flag to itself, then ONE grouped sum over the (already aggregated)
    per-cell table — pure Catalyst bit math, map-side combinable, no
    Python, never the raw points."""
    n = 1 << res
    # (dx, dy, weight-into-dzdx, weight-into-dzdy, presence)
    offs = [
        (-1, 0, 1, 0, 0),   # donor is the EAST neighbor of (ix-1, iy)
        (1, 0, -1, 0, 0),   # donor is the WEST neighbor of (ix+1, iy)
        (0, -1, 0, 1, 0),   # donor is the NORTH neighbor of (ix, iy-1)
        (0, 1, 0, -1, 0),   # donor is the SOUTH neighbor of (ix, iy+1)
        (0, 0, 0, 0, 1),    # presence marker for the donor cell itself
    ]
    off = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                    F.lit(wx).alias("wx"), F.lit(wy).alias("wy"),
                    F.lit(p).alias("p"),
                )
                for dx, dy, wx, wy, p in offs
            ]
        )
    ).alias("o")
    ix = F.shiftright(F.col(cell_col), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col(cell_col).bitwiseAND(F.lit((1 << 29) - 1))
    donors = cell_counts.select(
        ix.alias("ix"), iy.alias("iy"), F.col(value_col).cast("long").alias("_v")
    ).select("ix", "iy", "_v", off)
    scattered = donors.select(
        (F.col("ix") + F.col("o.dx")).alias("rix"),
        (F.col("iy") + F.col("o.dy")).alias("riy"),
        (F.col("_v") * F.col("o.wx")).alias("_gx"),
        (F.col("_v") * F.col("o.wy")).alias("_gy"),
        F.col("o.p").alias("_p"),
    ).filter(
        (F.col("rix") >= 0) & (F.col("rix") < n)
        & (F.col("riy") >= 0) & (F.col("riy") < n)
    )
    agg = scattered.groupBy("rix", "riy").agg(
        F.sum("_gx").alias("dzdx"),
        F.sum("_gy").alias("dzdy"),
        F.sum("_p").alias("_pres"),
    )
    cell_out = (
        F.lit(res).cast("long") * F.lit(1 << 58)
        + F.shiftleft(F.col("rix").cast("long"), 29)
        + F.col("riy").cast("long")
    )
    return agg.filter(F.col("_pres") > 0).select(
        cell_out.alias(cell_col),
        F.col("dzdx").cast("long").alias("dzdx"),
        F.col("dzdy").cast("long").alias("dzdy"),
        (F.col("dzdx") * F.col("dzdx") + F.col("dzdy") * F.col("dzdy"))
        .cast("long")
        .alias("slope_sq"),
    )


def areal_interpolate(
    zones: DataFrame,
    res: int,
    zone_id: str = "zone_id",
    value_col: str = "value",
    geom: str = "geom",
) -> DataFrame:
    """Areal-weighted interpolation (the classic GIS population-transfer
    operator): redistribute each zone's value onto the cell grid in
    proportion to exact overlap area — weight(zone, cell) =
    area(zone ∩ cell) / area(zone). Works for arbitrary simple polygons
    with holes: reuses the dissolve clip machinery (Sutherland–Hodgman
    against convex cell boxes is exact) and the scanline area kernel.

    Emits one row per (zone, cell) with the weight and the transferred
    contribution — per-pair SCALAR rows (the q81 rule), so downstream
    per-cell sums are the caller's choice and the gate oracle never
    replays a float-sum order. Scale shape: one mapInPandas clip stage
    fanned out by cell (the shuffle key is (zone, cell)), one Arrow area
    UDF, one broadcast-joinable per-zone area — the raw fact table is
    never touched."""
    from pda_spark.operators.dissolve import cell_pieces

    # cell_pieces types its key column string; route an internal string
    # key through the clip and map back to the caller's typed id via the
    # broadcast dim (exact round-trip for int/string ids).
    zdim = zones.select(
        F.col(zone_id).cast("string").alias("_zk"),
        F.col(zone_id),
        F.col(value_col).alias("_zval"),
        geo_udfs.area_planar(F.col(geom)).alias("_zarea"),
    )
    keyed = zones.select(F.col(zone_id).cast("string").alias("_zk"), F.col(geom))
    pieces = cell_pieces(keyed, res, geom=geom, key_col="_zk")
    parea = pieces.select(
        F.col("key").alias("_zk"),
        "cell",
        geo_udfs.area_planar(F.col("piece")).alias("_parea"),
    )
    # only positive overlaps: a zone edge exactly on a cell boundary
    # clips to a degenerate zero-area sliver — not a real pair
    out = parea.filter(F.col("_parea") > 0).join(F.broadcast(zdim), "_zk")
    weight = F.col("_parea") / F.col("_zarea")
    return out.select(
        F.col(zone_id),
        "cell",
        weight.alias("weight"),
        (F.col("_zval") * weight).alias("contribution"),
    )


def morans_i_components(
    cell_counts: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the cell grid
    (the classic hot-spot / clustering statistic — binary queen
    contiguity weights among the OCCUPIED cells; absent cells are not
    part of the field, the sparse convention focal_gradient documents).

    Returns ONE row of integer-exact components plus the assembled
    statistic: with m = #occupied cells, S = sum of values, and
    d_i = m*x_i - S (= m*(x_i - mean), integer by construction):

        w_pairs    = #directed queen-neighbor pairs (i != j)   [= W]
        num_scaled = sum over pairs of d_i * d_j               [m^2 units]
        den_scaled = sum over cells of d_i^2                   [m^2 units]
        morans_i   = (m * num_scaled) / (w_pairs * den_scaled)

    The m^2 scaling cancels in the ratio, so morans_i is the textbook
    (n/W) * sum(w_ij z_i z_j) / sum(z_i^2) — but every aggregate is an
    order-independent INTEGER sum, so any engine reproduces the
    components bit-for-bit and the one final division is a single
    replayable float op (the q81/q83 discipline).

    Scale shape: the same scatter-gather as focal_stats — each occupied
    cell emits its scaled deviation to its <= 8 queen neighbors (pure
    Catalyst bit math on the packed cell id), one equi-join back onto
    the occupied-cell table forms the pairs, one grouped sum finishes.
    Runs on the already-aggregated per-cell table; the raw fact table is
    never touched. Integer headroom: |d_i| <= m * max(x), so num/den
    stay in int64 while m^2 * max(x)^2 * pairs < 2^63 — at larger scale
    emit the components unassembled and ratio outside (docstring
    contract, not a code path)."""
    n = 1 << res
    ix = F.shiftright(F.col(cell_col), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col(cell_col).bitwiseAND(F.lit((1 << 29) - 1))
    base = cell_counts.select(
        ix.alias("ix"), iy.alias("iy"), F.col(value_col).cast("long").alias("_x")
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("_m"), F.sum("_x").alias("_s")
    )
    dev = base.crossJoin(F.broadcast(tot)).select(
        "ix", "iy", (F.col("_m") * F.col("_x") - F.col("_s")).alias("_d"), "_m"
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
    ).alias("o")
    scattered = (
        dev.select("ix", "iy", "_d", off)
        .select(
            (F.col("ix") + F.col("o.dx")).alias("rix"),
            (F.col("iy") + F.col("o.dy")).alias("riy"),
            F.col("_d").alias("_di"),
        )
        .filter(
            (F.col("rix") >= 0) & (F.col("rix") < n)
            & (F.col("riy") >= 0) & (F.col("riy") < n)
        )
    )
    pairs = scattered.join(
        dev.select(F.col("ix").alias("rix"), F.col("iy").alias("riy"), F.col("_d").alias("_dj")),
        ["rix", "riy"],
    )
    num = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"), F.sum(F.col("_di") * F.col("_dj")).alias("num_scaled")
    )
    den = dev.agg(
        F.max("_m").alias("m_cells"), F.sum(F.col("_d") * F.col("_d")).alias("den_scaled")
    )
    out = num.crossJoin(den)
    return out.select(
        F.col("m_cells").cast("long").alias("m_cells"),
        F.col("w_pairs").cast("long").alias("w_pairs"),
        F.col("num_scaled").cast("long").alias("num_scaled"),
        F.col("den_scaled").cast("long").alias("den_scaled"),
        (
            (F.col("m_cells") * F.col("num_scaled")).cast("double")
            / (F.col("w_pairs") * F.col("den_scaled")).cast("double")
        ).alias("morans_i"),
    )


def getis_ord_components(
    cell_counts: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """Local Getis-Ord Gi* hot-spot statistic per occupied cell — the
    LOCAL sibling of ``morans_i_components`` (global autocorrelation)
    and the spatial leg of emerging-hot-spot analysis (q117's
    Mann-Kendall is the temporal leg). Binary queen weights INCLUDING
    self (the * in Gi*), over the OCCUPIED cells only (the sparse
    convention this module uses throughout).

    Per cell i, with m = #occupied cells, sx = sum(x), sx2 = sum(x^2):

        w_nbrs     = #occupied cells in i's 3x3 window (incl. i)
        wx_sum     = sum of x over that window
        num_scaled = m*wx_sum - sx*w_nbrs          [= m^2*(wx - x_bar*W)]
        gi_z       = num_scaled / sqrt(A * B / (m-1))
                     where A = m*sx2 - sx^2, B = m*w_nbrs - w_nbrs^2

    (the textbook z-score: both numerator and the radicand are the
    textbook forms scaled by m^2, which cancels). Every component is an
    order-independent INTEGER, and the assembled float is the fixed op
    sequence double(num) / sqrt(double(A) * double(B) / double(m-1)) —
    each cast exact below 2^53, each op IEEE-correctly-rounded, so any
    engine replays the identical double (the q109/q81 discipline).
    gi_z is NULL when B = 0 (window covers every occupied cell) or
    m < 2 — the statistic is undefined, not zero.

    Scale shape: identical to morans_i_components — each occupied cell
    scatters to its 9 window positions (pure bit math on the packed
    id), one equi-join gathers onto occupied cells, one grouped sum;
    runs on the per-cell aggregate, never the raw points. Integer
    headroom contract: m*sx2 < 2^63 and per-cast legs < 2^53; at
    larger scale emit components and assemble outside."""
    n = 1 << res
    ix = F.shiftright(F.col(cell_col), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col(cell_col).bitwiseAND(F.lit((1 << 29) - 1))
    base = cell_counts.select(
        F.col(cell_col).alias("cell"),
        ix.alias("ix"),
        iy.alias("iy"),
        F.col(value_col).cast("long").alias("_x"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("_m"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sx2"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
    ).alias("o")
    scattered = (
        base.select("ix", "iy", "_x", off)
        .select(
            (F.col("ix") + F.col("o.dx")).alias("rix"),
            (F.col("iy") + F.col("o.dy")).alias("riy"),
            F.col("_x").alias("_xd"),
        )
        .filter(
            (F.col("rix") >= 0) & (F.col("rix") < n)
            & (F.col("riy") >= 0) & (F.col("riy") < n)
        )
    )
    win = (
        scattered.join(
            base.select(
                "cell", F.col("ix").alias("rix"), F.col("iy").alias("riy"), "_x"
            ),
            ["rix", "riy"],
        )
        .groupBy("cell", "_x")
        .agg(
            F.count(F.lit(1)).cast("long").alias("w_nbrs"),
            F.sum("_xd").alias("wx_sum"),
        )
    )
    out = win.crossJoin(F.broadcast(tot))
    num = F.col("_m") * F.col("wx_sum") - F.col("_sx") * F.col("w_nbrs")
    a = F.col("_m") * F.col("_sx2") - F.col("_sx") * F.col("_sx")
    b = F.col("_m") * F.col("w_nbrs") - F.col("w_nbrs") * F.col("w_nbrs")
    z = F.when(
        (F.col("_m") >= F.lit(2)) & (b > F.lit(0)),
        num.cast("double")
        / F.sqrt(a.cast("double") * b.cast("double") / (F.col("_m") - F.lit(1)).cast("double")),
    )
    return out.select(
        "cell",
        F.col("_x").alias("x"),
        "w_nbrs",
        "wx_sum",
        num.cast("long").alias("num_scaled"),
        z.alias("gi_z"),
    )


def density_clusters(
    cell_counts: DataFrame,
    res: int,
    min_pts: int,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """Grid-density clustering (the DBSCAN-on-a-grid hot-spot operator:
    cells carrying >= ``min_pts`` points are DENSE, queen-adjacent dense
    cells merge into one cluster, and the cluster label is the minimum
    member cell id — canonical and order-independent). Returns one row
    per dense cell: (cell, n, cluster_id); an isolated dense cell is
    its own singleton cluster.

    Spark-first shape: the density filter and the 8-neighbor adjacency
    edges run on the already-aggregated per-cell table (the q87/q109
    scatter-gather bit math — never the raw points), then the existing
    large-star/small-star ``connected_components`` contracts the edge
    forest in O(log n) rounds. At 100 TB the edge table is O(dense
    cells * 8) and every round is one map-side-combinable min-aggregate
    plus an equi-join — the published trillion-edge shape."""
    from pda_spark.functions.graph import connected_components

    n = 1 << res
    ix = F.shiftright(F.col(cell_col), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col(cell_col).bitwiseAND(F.lit((1 << 29) - 1))
    dense = cell_counts.filter(F.col(value_col) >= min_pts).select(
        F.col(cell_col).alias("cell"),
        F.col(value_col).cast("long").alias("n"),
        ix.alias("ix"),
        iy.alias("iy"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
    ).alias("o")
    scattered = (
        dense.select("cell", "ix", "iy", off)
        .select(
            F.col("cell").alias("src"),
            (F.col("ix") + F.col("o.dx")).alias("rix"),
            (F.col("iy") + F.col("o.dy")).alias("riy"),
        )
        .filter(
            (F.col("rix") >= 0) & (F.col("rix") < n)
            & (F.col("riy") >= 0) & (F.col("riy") < n)
        )
    )
    edges = scattered.join(
        dense.select(F.col("cell").alias("dst"), F.col("ix").alias("rix"), F.col("iy").alias("riy")),
        ["rix", "riy"],
    ).select("src", "dst")
    cc = connected_components(edges, src="src", dst="dst")
    out = dense.join(cc, dense["cell"] == cc["id"], "left")
    return out.select(
        "cell", "n", F.coalesce(F.col("component"), F.col("cell")).alias("cluster_id")
    )


def focal_stats(
    cell_counts: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
    radius: int = 1,
) -> DataFrame:
    """Focal (neighborhood) statistics over the cell grid — the raster
    smoothing / kernel-density primitive (GIS "focal sum/mean" over a
    (2r+1)^2 window). Input is an aggregated per-cell table; output is
    one row per cell that RECEIVES any contribution (support dilation),
    with the window sum, the in-bounds window cell count, and the mean.

    Spark-first shape: scatter-gather, not a spatial window — each donor
    cell explodes to its (2r+1)^2 recipients (pure Catalyst bit math on
    the int64 cell id: res<<58 | ix<<29 | iy), then ONE grouped sum.
    Cost is 9x rows through a map-side-combinable aggregate; no
    geometry, no Python, no per-cell loop — at 100 TB this is exactly a
    shuffle of the (already tiny) per-cell aggregate, never the raw
    points. Out-of-domain recipients (grid edge) are dropped; the mean
    divides by the count of in-bounds DONOR positions computed from the
    recipient's own coordinates, so edge cells average over their real
    window size.
    """
    n = 1 << res
    offsets = [(dx, dy) for dx in range(-radius, radius + 1)
               for dy in range(-radius, radius + 1)]
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx, dy in offsets])
    ).alias("o")
    ix = F.shiftright(F.col(cell_col), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col(cell_col).bitwiseAND(F.lit((1 << 29) - 1))
    donors = cell_counts.select(
        ix.alias("ix"), iy.alias("iy"), F.col(value_col).alias("_v")
    ).select("ix", "iy", "_v", off)
    scattered = donors.select(
        (F.col("ix") + F.col("o.dx")).alias("rix"),
        (F.col("iy") + F.col("o.dy")).alias("riy"),
        "_v",
    ).filter(
        (F.col("rix") >= 0) & (F.col("rix") < n)
        & (F.col("riy") >= 0) & (F.col("riy") < n)
    )
    agg = scattered.groupBy("rix", "riy").agg(F.sum("_v").alias("focal_sum"))
    # in-bounds window size from the recipient's own grid position
    win = (
        (F.least(F.col("rix") + radius, F.lit(n - 1)) - F.greatest(F.col("rix") - radius, F.lit(0)) + 1)
        * (F.least(F.col("riy") + radius, F.lit(n - 1)) - F.greatest(F.col("riy") - radius, F.lit(0)) + 1)
    )
    cell_out = (
        (F.lit(res).cast("long") * F.lit(1 << 58))
        + F.shiftleft(F.col("rix").cast("long"), 29)
        + F.col("riy").cast("long")
    )
    return agg.select(
        cell_out.alias(cell_col),
        F.col("focal_sum").cast("long").alias("focal_sum"),
        win.cast("long").alias("win_cells"),
        (F.col("focal_sum").cast("double") / win.cast("double")).alias("focal_mean"),
    )


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Point-level DBSCAN (Ester et al. 1996) — the exact-eps sibling of
    ``density_clusters`` (which clusters pre-aggregated grid cells):
    a point is CORE when >= min_pts points (self included) lie within
    eps; core points within eps of each other share a cluster
    (transitively); a non-core point within eps of a core is a BORDER
    member of the minimum core cluster touching it (the deterministic
    tie-break — textbook DBSCAN leaves border assignment order-defined,
    which no distributed engine should reproduce); everything else is
    NOISE (cluster_id NULL). Cluster id = minimum member point id.
    Returns (id, is_core, cluster_id).

    Spark-first shape (round-7 rewrite — the exact CELL-contraction
    DBSCAN, Gunawan-style grid): cells of width w = eps/sqrt(2) make
    every intra-cell pair lie within eps (cell diagonal == eps), so a
    cell holding >= min_pts points is DENSE: all its points are core
    with zero pair checks, and for connectivity the whole cell
    contracts to ONE quotient node. The round-6 eps-grid version
    materialized every neighbor pair — O(b^2) per eps-clique blob, and
    a 10x input grew the pair table 100x (370 s at sf1.0). Here pair
    work survives only where the data is sparse:

    * per-cell stats (n, bbox, min id) are ONE map-side-combinable
      aggregation;
    * point<->cell and cell<->cell reachability is first decided from
      bbox distance BOUNDS — max-distance bound <= eps^2 proves every
      pair in range (count n wholesale / link cells without looking at
      points), min-distance bound > eps^2 proves none is; only the
      sliver between the bounds expands to point-level d2 checks. The
      bounds use the same (sub, mul, add) op shapes as the pair d2, and
      IEEE rounding is monotone, so a bound that passes/fails implies
      every member pair's computed d2 passes/fails — float-exact, not
      approximate;
    * only points in NON-dense cells (< min_pts per cell) ever join at
      point level, against <= 25 neighbor cells (Chebyshev radius 2 at
      w = eps/sqrt(2) covers every pair within eps);
    * core-core edges are emitted at (dense-cell min-id | sparse core
      id) granularity, so ``connected_components`` sees the contracted
      quotient graph — blobs are single nodes before CC even starts.

    Labels are unchanged vs the pair-level formulation: a dense cell's
    node id is its min point id (all core), so component minima are the
    true min member ids; border points take the min core-cluster label
    among cores within eps, resolved per-cell when the bound decides it
    and per-point otherwise. No KD-tree, no driver state — every step
    is a shuffle on cell or id keys."""
    import math

    from pda_spark.functions.graph import connected_components

    eps2 = eps * eps
    w = eps / math.sqrt(2.0)
    base = points.select(
        F.col(id_col).alias("_pid"),
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        F.floor(F.col(x_col) / F.lit(w)).alias("cx"),
        F.floor(F.col(y_col) / F.lit(w)).alias("cy"),
    ).localCheckpoint(eager=False)

    # Per-cell stats. The bbox self-check is a float-safety belt: the
    # cell is w x w so diag^2 == eps^2 in the reals, but a pair at the
    # exact corner could round its computed d2 one ulp above eps2 — such
    # a cell (if it ever exists) is handled on the exact sparse path.
    cells = (
        base.groupBy("cx", "cy")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.min("_x").alias("minx"),
            F.max("_x").alias("maxx"),
            F.min("_y").alias("miny"),
            F.max("_y").alias("maxy"),
            F.min("_pid").alias("cmin"),
        )
        .withColumn(
            "dense",
            (F.col("cn") >= F.lit(min_pts))
            & (
                (F.col("maxx") - F.col("minx")) * (F.col("maxx") - F.col("minx"))
                + (F.col("maxy") - F.col("miny")) * (F.col("maxy") - F.col("miny"))
                <= F.lit(eps2)
            ),
        )
        .localCheckpoint(eager=False)
    )

    # Each occupied cell scattered to its 5x5 Chebyshev neighborhood:
    # (ncx, ncy) is where the SOURCE cell's stats become visible to
    # points/cells living there. 25 small rows per cell, pure arithmetic.
    offs = [(dx, dy) for dx in (-2, -1, 0, 1, 2) for dy in (-2, -1, 0, 1, 2)]
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
    ).alias("o")
    adj = cells.select(
        F.col("cx").alias("scx"), F.col("cy").alias("scy"),
        "cn", "minx", "maxx", "miny", "maxy", "cmin", "dense", off,
    ).select(
        "scx", "scy", "cn", "minx", "maxx", "miny", "maxy", "cmin", "dense",
        (F.col("scx") + F.col("o.dx")).alias("ncx"),
        (F.col("scy") + F.col("o.dy")).alias("ncy"),
    )

    # Sparse points (non-dense home cell) are the only ones needing
    # per-point degree / border resolution.
    sp = base.join(
        cells.select("cx", "cy", F.col("dense").alias("_home_dense")), ["cx", "cy"]
    ).filter(~F.col("_home_dense"))

    # (sparse point, nearby source cell) with point->bbox distance
    # bounds; same op shapes as the pair d2 so IEEE monotonicity makes
    # the wholesale/excluded decisions exact.
    fxf = F.greatest(F.col("maxx") - F.col("_x"), F.col("_x") - F.col("minx"))
    fyf = F.greatest(F.col("maxy") - F.col("_y"), F.col("_y") - F.col("miny"))
    fxn = F.greatest(F.col("minx") - F.col("_x"), F.col("_x") - F.col("maxx"), F.lit(0.0))
    fyn = F.greatest(F.col("miny") - F.col("_y"), F.col("_y") - F.col("maxy"), F.lit(0.0))
    spc = (
        sp.join(adj, (F.col("cx") == F.col("ncx")) & (F.col("cy") == F.col("ncy")))
        .withColumn("_pmax2", fxf * fxf + fyf * fyf)
        .withColumn("_pmin2", fxn * fxn + fyn * fyn)
        .filter(F.col("_pmin2") <= F.lit(eps2))
        .select(
            "_pid", "_x", "_y", "scx", "scy", "cn", "cmin", "dense",
            (F.col("_pmax2") <= F.lit(eps2)).alias("_whole"),
        )
        .localCheckpoint(eager=False)
    )

    # Point-level expansion, only where a bound could not decide:
    # dense sources in the bound sliver, and ALL sparse sources (their
    # point lists are < min_pts rows, and edges/borders need ids).
    qside = base.select(
        F.col("_pid").alias("_qid"), F.col("_x").alias("_qx"), F.col("_y").alias("_qy"),
        F.col("cx").alias("scx"), F.col("cy").alias("scy"),
    )
    d2 = (F.col("_x") - F.col("_qx")) * (F.col("_x") - F.col("_qx")) + (
        F.col("_y") - F.col("_qy")
    ) * (F.col("_y") - F.col("_qy"))
    pairs = (
        spc.filter(~F.col("_whole") | ~F.col("dense"))
        .join(qside, ["scx", "scy"])
        .filter((F.col("_whole") & ~F.col("dense")) | (d2 <= F.lit(eps2)))
        .select("_pid", "scx", "scy", "cmin", "dense", "_qid")
        .localCheckpoint(eager=False)
    )

    # Degree = wholesale cell counts + individually verified neighbors
    # (self included via the home cell, like the pair formulation).
    deg_whole = (
        spc.filter(F.col("_whole") & F.col("dense"))
        .groupBy("_pid")
        .agg(F.sum("cn").alias("_dw"))
    )
    deg_pair = pairs.groupBy("_pid").agg(F.count(F.lit(1)).alias("_dp"))
    deg = (
        sp.select("_pid")
        .join(deg_whole, "_pid", "left")
        .join(deg_pair, "_pid", "left")
        .select(
            "_pid",
            (F.coalesce(F.col("_dw"), F.lit(0)) + F.coalesce(F.col("_dp"), F.lit(0))).alias(
                "_deg"
            ),
        )
    )
    score = deg.filter(F.col("_deg") >= F.lit(min_pts)).select("_pid").localCheckpoint(eager=False)

    # Quotient edges: node = dense-cell min id | sparse core id.
    dc = cells.filter(F.col("dense"))
    dadj = adj.filter(F.col("dense")).withColumnRenamed("cmin", "_cmin_b")
    cxf = F.greatest(F.col("maxx") - F.col("_bminx"), F.col("_bmaxx") - F.col("minx"))
    cyf = F.greatest(F.col("maxy") - F.col("_bminy"), F.col("_bmaxy") - F.col("miny"))
    cxn = F.greatest(
        F.col("minx") - F.col("_bmaxx"), F.col("_bminx") - F.col("maxx"), F.lit(0.0)
    )
    cyn = F.greatest(
        F.col("miny") - F.col("_bmaxy"), F.col("_bminy") - F.col("maxy"), F.lit(0.0)
    )
    dd = (
        dc.join(
            dadj.select(
                "ncx", "ncy", "scx", "scy", "_cmin_b",
                F.col("minx").alias("_bminx"), F.col("maxx").alias("_bmaxx"),
                F.col("miny").alias("_bminy"), F.col("maxy").alias("_bmaxy"),
            ),
            (F.col("cx") == F.col("ncx")) & (F.col("cy") == F.col("ncy")),
        )
        .filter(F.col("cmin") < F.col("_cmin_b"))  # one direction per cell pair
        .withColumn("_cmax2", cxf * cxf + cyf * cyf)
        .withColumn("_cmin2", cxn * cxn + cyn * cyn)
        .filter(F.col("_cmin2") <= F.lit(eps2))
    )
    dd_whole = dd.filter(F.col("_cmax2") <= F.lit(eps2)).select(
        F.col("cmin").alias("_u"), F.col("_cmin_b").alias("_v")
    )
    # Undecided dense-dense cell pairs verify at point level: that leg
    # is an |A| x |B| pair join per undecided pair (NOT a short-circuit
    # probe), bounded in practice by per-cell occupancy — for adjacent
    # cells inside one blob the bbox max-bound usually resolves the
    # link wholesale first, but uniformly-dense data can route adjacent
    # cell pairs here, where the cost is quadratic in cell occupancy
    # (round-7 review note; labels stay exact either way).
    a_pts = base.select(
        F.col("cx"), F.col("cy"), F.col("_x").alias("_ax"), F.col("_y").alias("_ay")
    )
    b_pts = base.select(
        F.col("cx").alias("scx"), F.col("cy").alias("scy"),
        F.col("_x").alias("_bx"), F.col("_y").alias("_by"),
    )
    dd_d2 = (F.col("_ax") - F.col("_bx")) * (F.col("_ax") - F.col("_bx")) + (
        F.col("_ay") - F.col("_by")
    ) * (F.col("_ay") - F.col("_by"))
    dd_part = (
        dd.filter(F.col("_cmax2") > F.lit(eps2))
        .select("cx", "cy", "scx", "scy", "cmin", "_cmin_b")
        .join(a_pts, ["cx", "cy"])
        .join(b_pts, ["scx", "scy"])
        .filter(dd_d2 <= F.lit(eps2))
        .select(F.col("cmin").alias("_u"), F.col("_cmin_b").alias("_v"))
        .dropDuplicates(["_u", "_v"])
    )
    sc_a = score.withColumnRenamed("_pid", "_sc")
    e_sd = (
        spc.filter(F.col("_whole") & F.col("dense"))
        .join(sc_a, spc["_pid"] == sc_a["_sc"])
        .select(F.col("_pid").alias("_u"), F.col("cmin").alias("_v"))
        .unionByName(
            pairs.filter(F.col("dense"))
            .join(sc_a, pairs["_pid"] == sc_a["_sc"])
            .select(F.col("_pid").alias("_u"), F.col("cmin").alias("_v"))
        )
        .dropDuplicates(["_u", "_v"])
    )
    sc_b = score.withColumnRenamed("_pid", "_sc_b")
    e_ss = (
        pairs.filter(~F.col("dense") & (F.col("_pid") != F.col("_qid")))
        .join(sc_a, pairs["_pid"] == sc_a["_sc"])
        .join(sc_b, pairs["_qid"] == sc_b["_sc_b"])
        .select(F.col("_pid").alias("_u"), F.col("_qid").alias("_v"))
    )
    edges = dd_whole.unionByName(dd_part).unionByName(e_sd).unionByName(e_ss)

    cc = connected_components(edges, src="_u", dst="_v")

    # Node labels: every quotient node (dense cmin | sparse core id)
    # keeps its component min, itself when isolated.
    nodes = dc.select(F.col("cmin").alias("_n")).unionByName(
        score.select(F.col("_pid").alias("_n"))
    ).dropDuplicates(["_n"])
    labels = (
        nodes.join(cc, nodes["_n"] == cc["id"], "left")
        .select("_n", F.coalesce(F.col("component"), F.col("_n")).alias("_cl"))
        .localCheckpoint(eager=False)
    )

    # Border labels for sparse non-core points: min core-cluster label
    # among cores within eps — wholesale dense cells, verified pairs
    # into dense cells, and verified sparse-core neighbors.
    lab_cell = labels.withColumnRenamed("_n", "cmin").withColumnRenamed("_cl", "_cell_cl")
    lab_q = labels.withColumnRenamed("_n", "_qid").withColumnRenamed("_cl", "_q_cl")
    cand_dense = (
        spc.filter(F.col("_whole") & F.col("dense"))
        .select("_pid", "cmin")
        .unionByName(pairs.filter(F.col("dense")).select("_pid", "cmin"))
        .join(lab_cell, "cmin")
        .select("_pid", F.col("_cell_cl").alias("_bl0"))
    )
    cand_sparse = (
        pairs.filter(~F.col("dense"))
        .join(sc_b, pairs["_qid"] == sc_b["_sc_b"])
        .join(lab_q, "_qid")
        .select("_pid", F.col("_q_cl").alias("_bl0"))
    )
    border = (
        cand_dense.unionByName(cand_sparse)
        .join(score.withColumnRenamed("_pid", "_pid2"), F.col("_pid") == F.col("_pid2"), "left_anti")
        .groupBy("_pid")
        .agg(F.min("_bl0").alias("_bl"))
    )

    # Assemble: dense-cell points labeled through their cell node,
    # sparse cores through their own node, sparse non-cores through the
    # border min, the rest noise.
    out_dense = (
        base.join(dc.select("cx", "cy", "cmin"), ["cx", "cy"])
        .join(lab_cell, "cmin")
        .select("_pid", F.lit(True).alias("is_core"), F.col("_cell_cl").alias("cluster_id"))
    )
    lab_core = labels.withColumnRenamed("_n", "_pid")
    out_sparse = (
        sp.select("_pid")
        .join(lab_core, "_pid", "left")
        .join(border, "_pid", "left")
        .join(score.withColumnRenamed("_pid", "_pc"), F.col("_pid") == F.col("_pc"), "left")
        .select(
            "_pid",
            F.col("_pc").isNotNull().alias("is_core"),
            F.when(F.col("_pc").isNotNull(), F.col("_cl")).otherwise(F.col("_bl")).alias(
                "cluster_id"
            ),
        )
    )
    return out_dense.unionByName(out_sparse).select(
        F.col("_pid").alias(id_col), "is_core", "cluster_id"
    )


def d8_flow_direction(
    cell_counts: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """D8 steepest-descent flow direction (the hydrology flow-routing
    primitive — O'Callaghan & Mark 1984, the ESRI/GDAL ``FlowDir``
    raster op) over the sparse cell grid: each occupied cell points at
    the neighbor with the steepest positive drop, drop weighted by
    1/distance (diagonal neighbors are sqrt(2) away). Emits the ESRI
    direction code (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128;
    0 = sink/flat — no occupied neighbor strictly lower).

    Sparse convention (documented): UNOCCUPIED neighbors are nodata and
    are never flow targets — D8 runs over the observed cell set (the
    other GIS convention, absent=0, would route every boundary cell
    off-grid; callers wanting it densify first).

    Integer-exact steepness compare, no sqrt: for positive drops,
    slope_cardinal > slope_diagonal  <=>  2*dc^2 > dd^2 (square the
    1/sqrt(2) weight away), so the argmax key is drop^2 * (2 for
    cardinal, 1 for diagonal) — and 2a^2 = b^2 has no nonzero integer
    solution, so keys from DIFFERENT weight classes never tie; equal
    keys within a class are genuinely equal slopes and resolve to the
    smallest direction code (deterministic in any engine).

    Shape: the focal_stats scatter-gather — donors fan out to their 8
    neighbors (plus a zero-key SELF sentinel that keeps sinks alive)
    with the direction code the RECIPIENT would use (pure Catalyst bit
    math), one equi-join back to the recipient's own value, one grouped
    max over a (key, -code) struct (map-side combinable, lexicographic
    struct order IS the tiebreak). Exactly two references to the input
    table, no backfill join. Never touches raw points; no Python
    stages."""
    n = 1 << res
    # (dx, dy) donor offset -> code the recipient at (ix+dx, iy+dy)
    # uses to point back at the donor; iy+1 is north (lat-increasing).
    # The (0, 0, 0) SELF arm is the sink sentinel: every occupied cell
    # receives at least its own zero-key candidate, so sinks survive
    # the argmax without a third reference back to the cell table (a
    # left-join backfill would re-derive the upstream aggregation a
    # third time on a lazy input).
    arms = [
        (0, 0, 0),     # self (sentinel, key 0)
        (1, 0, 1),     # donor to the EAST of recipient
        (1, -1, 2),    # SE
        (0, -1, 4),    # S
        (-1, -1, 8),   # SW
        (-1, 0, 16),   # W
        (-1, 1, 32),   # NW
        (0, 1, 64),    # N
        (1, 1, 128),   # NE
    ]
    off = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(code).alias("code")
                )
                for dx, dy, code in arms
            ]
        )
    ).alias("o")
    ix = F.shiftright(F.col(cell_col), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col(cell_col).bitwiseAND(F.lit((1 << 29) - 1))
    own = cell_counts.select(
        ix.alias("ix"), iy.alias("iy"), F.col(value_col).cast("long").alias("_v")
    )
    scattered = own.select("ix", "iy", "_v", off).select(
        (F.col("ix") - F.col("o.dx")).alias("rix"),
        (F.col("iy") - F.col("o.dy")).alias("riy"),
        F.col("o.code").alias("code"),
        # diagonal iff both offsets nonzero
        F.when((F.col("o.dx") != 0) & (F.col("o.dy") != 0), F.lit(1))
        .otherwise(F.lit(2))
        .alias("w"),
        F.col("_v").alias("dv"),
    ).filter(
        (F.col("rix") >= 0) & (F.col("rix") < n)
        & (F.col("riy") >= 0) & (F.col("riy") < n)
    )
    cand = own.join(
        scattered, (own.ix == scattered.rix) & (own.iy == scattered.riy), "inner"
    ).select("ix", "iy", "_v", "code", "w", "dv")
    drop = F.col("_v") - F.col("dv")
    # keep positive drops plus the self sentinel (code 0, drop 0 -> key
    # 0, the argmax floor); everything else can never win
    pos = cand.filter((drop > 0) | (F.col("code") == 0)).select(
        "ix",
        "iy",
        "_v",
        F.struct(
            (drop * drop * F.col("w")).alias("key"), (-F.col("code")).alias("negcode")
        ).alias("_k"),
    )
    best = pos.groupBy("ix", "iy").agg(
        F.max("_k").alias("_b"), F.max("_v").alias("_n")
    )
    return best.select(
        F.col("ix").cast("long").alias("ix"),
        F.col("iy").cast("long").alias("iy"),
        F.col("_n").alias(value_col),
        (-F.col("_b.negcode")).cast("long").alias("flow_dir"),
    )


def flow_accumulation(
    cell_counts: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
    max_iter: int = 64,
) -> DataFrame:
    """D8 flow ACCUMULATION (the second half of the hydrology pair —
    ESRI/GDAL ``FlowAcc``): for each occupied cell, the number of
    occupied cells whose steepest-descent path (``d8_flow_direction``)
    passes through it, itself included. The D8 graph is a FOREST — every
    edge points to a strictly lower neighbor, so paths are acyclic and
    each cell has at most one out-edge — and accumulation is the
    subtree size above each cell.

    Distributed shape: POINTER DOUBLING (the parallel list-ranking
    idiom), not leaf-to-root value iteration — depth rounds become
    log2(depth) rounds, and rounds are the scheduler cost that matters
    at scale. Invariants after round k: pairs P holds (start, ancestor)
    for every ancestor within 2^k - 1 hops (self included), and jump
    table J maps each node to its 2^k-th ancestor where one exists; a
    round extends P through J and squares J by self-join. J empties
    after ceil(log2(max path depth)) rounds (the convergence check —
    one tiny count per round, the only action). acc(c) then = count of
    starts whose pair set contains c. Memory bound (documented
    tradeoff): P holds sum-of-path-lengths rows — the same bound as a
    transitive closure on a forest; the depth-round value-iteration
    alternative keeps O(n) state but pays depth rounds. RuntimeError
    past ``max_iter`` doubling rounds (2^40-deep paths at the default —
    unreachable on any grid).

    Returns (ix, iy, n, flow_dir, acc)."""
    dirs = d8_flow_direction(cell_counts, res, cell_col, value_col).localCheckpoint(
        eager=False
    )
    # decode the ESRI code back to the (dx, dy) step of the out-edge
    code_to_step = {1: (1, 0), 2: (1, -1), 4: (0, -1), 8: (-1, -1),
                    16: (-1, 0), 32: (-1, 1), 64: (0, 1), 128: (1, 1)}
    dx = F.create_map(
        *[x for c, (sx, _) in code_to_step.items() for x in (F.lit(c), F.lit(sx))]
    )[F.col("flow_dir")]
    dy = F.create_map(
        *[x for c, (_, sy) in code_to_step.items() for x in (F.lit(c), F.lit(sy))]
    )[F.col("flow_dir")]
    # pack (ix, iy) into one join key (ix, iy < 2^29 by cell layout)
    pack = lambda a, b: a * F.lit(1 << 29) + b  # noqa: E731
    jump = dirs.filter(F.col("flow_dir") > 0).select(
        pack(F.col("ix"), F.col("iy")).alias("c"),
        pack(F.col("ix") + dx, F.col("iy") + dy).alias("p"),
    ).localCheckpoint(eager=False)
    pairs = dirs.select(
        pack(F.col("ix"), F.col("iy")).alias("s"),
        pack(F.col("ix"), F.col("iy")).alias("a"),
    )
    for _ in range(max_iter):
        if jump.limit(1).count() == 0:
            break
        ext = pairs.join(jump, pairs.a == jump.c).select("s", F.col("p").alias("a"))
        pairs = pairs.union(ext).distinct().localCheckpoint(eager=False)
        j2 = jump.alias("l").join(
            jump.alias("r"), F.col("l.p") == F.col("r.c")
        ).select(F.col("l.c").alias("c"), F.col("r.p").alias("p"))
        jump = j2.localCheckpoint(eager=False)
    else:
        raise RuntimeError(f"flow_accumulation did not converge in {max_iter} rounds")
    acc = pairs.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("acc"))
    keyed = dirs.withColumn("_k", pack(F.col("ix"), F.col("iy")))
    return keyed.join(acc, keyed["_k"] == acc["a"]).select(
        "ix", "iy", value_col, "flow_dir", "acc"
    )
