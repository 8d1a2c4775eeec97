"""The benchmark's operations: each one drives the engine's public
operators on the loaded inputs and returns a canonical pandas result that
the oracles in ``oracle.py`` check.

An op is a method on its workload object; the runner calls the ops of one
workload back to back (a closed loop with one client) and times each call
from outside.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from pda_spark.functions import geo_udfs
from pda_spark.operators import spatial_join, tiling
from pda_spark.sources.checkpoint import CheckpointManager
from pda_spark.sources.ingest import ingest_web_corpus

PIP_RES = 9          # cell resolution of the PIP and intersects joins
TILE_RES = 12        # finest zoom of the zonal tile pyramid
KNN_K = 10
KNN_RES = 11
KNN_RING = 3
OVERLAY_RES = 9
COVERAGE_RES = 8
RASTER_RES = 10
RESUMED = ["satellites", "item_types", "sat_images"]  # stages after footprints


def sort_rows(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)


class Spatial:
    """Geoparsed points and rotated scene footprints against irregular land
    cover. The PIP zonal tiles and kNN ops run the Arrow PIP refine and the
    kNN ring expansion; the overlay, coverage and raster ops run the
    polygon-pair kernel, the scanline union and the tight tile cover.
    Rows per cycle: every point and every footprint, once per op that
    reads them, plus the ``coverage_polys`` land-cover polygons unioned."""

    ops = ("zonal_tiles", "knn", "overlay_join", "coverage_area", "rasterize")

    def __init__(self, spark, paths: dict, sizes, work_dir: str, spans):
        self.spans = spans
        self.points = spark.read.parquet(paths["points"])
        self.land_cover = spark.read.parquet(paths["land_cover"])
        self.queries = spark.read.parquet(paths["queries"])
        self.footprints = spark.read.parquet(paths["footprints"])
        self.coverage_polys = sizes.coverage_polys
        self.rows_per_cycle = 2 * sizes.points + 2 * sizes.footprints + sizes.coverage_polys

    def observe(self, op: str, result: dict) -> dict:
        return result

    def zonal_tiles(self) -> dict:
        joined = spatial_join.points_in_polygons_join(
            self.points, self.land_cover, res=PIP_RES, lonlat_cols=("lon", "lat")
        )
        tile = geo_udfs.cell_of_xy_expr(F.col("lon"), F.col("lat"), TILE_RES)
        counts = (
            joined.groupBy("featureclass", tile.alias("cell"))
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        idx = self.spans.open("tiling.pyramid")
        per_tile = counts.groupBy("cell").agg(F.sum("n").alias("n"))
        pyramid = tiling.tile_pyramid(per_tile, res=TILE_RES, min_res=0)
        pyramid = pyramid.select("zoom", "cell", "n").toPandas()
        self.spans.close(idx)
        hist = counts.groupBy("featureclass").agg(F.sum("n").cast("long").alias("n"))
        return {
            "pyramid": sort_rows(pyramid, ["zoom", "cell"]),
            "histogram": sort_rows(hist.toPandas(), ["featureclass"]),
        }

    def knn(self) -> dict:
        res = spatial_join.knn_join(
            self.points,
            self.queries,
            k=KNN_K,
            res=KNN_RES,
            max_ring=KNN_RING,
            query_geom="qgeom",
            query_id="query_id",
            lonlat_cols=("lon", "lat"),
            tiebreak="pt_id",
        )
        out = res.select("query_id", "pt_id", "dist_m", "knn_rank").toPandas()
        return {"knn": sort_rows(out, ["query_id", "knn_rank"])}

    def overlay_join(self) -> dict:
        pairs = spatial_join.intersects_join(
            self.footprints, self.land_cover, res=OVERLAY_RES,
            left_geom="fgeom", right_geom="geom", refine="kernel",
        )
        per_class = pairs.groupBy("featureclass").agg(
            F.count(F.lit(1)).alias("pairs"), F.countDistinct("fp_id").alias("images")
        )
        return {"per_class": sort_rows(per_class.toPandas(), ["featureclass"])}

    def coverage_area(self) -> dict:
        polys = self.land_cover.filter(F.col("lc_id") < self.coverage_polys)
        areas = tiling.union_area_by_cells(polys, res=COVERAGE_RES, key="featureclass")
        return {"areas": sort_rows(areas.toPandas(), ["key"])}

    def rasterize(self) -> dict:
        tiles = tiling.rasterize_polygons(self.footprints, res=RASTER_RES, key="sat_id", geom="fgeom")
        return {"tiles": sort_rows(tiles.toPandas(), ["key", "tile"])}


class IngestResume:
    """Web-page ingest into a fresh checkpoint, a half-overlapping append,
    a resume after the later stages' manifests are deleted, and a read of
    the committed tables. Rows per cycle: pages of both batches, once per
    op that reads them."""

    ops = ("ingest", "append", "resume", "readback")

    def __init__(self, spark, paths: dict, sizes, work_dir: str, spans):
        self.spark = spark
        self.spans = spans
        self.pages_a = spark.read.parquet(paths["pages_a"])
        self.pages_b = spark.read.parquet(paths["pages_b"])
        self.work_dir = work_dir
        self.cycle = 0
        self.ckpt: CheckpointManager | None = None
        self.rows_per_cycle = 4 * sizes.pages

    def ingest(self) -> dict:
        self.cycle += 1
        base = os.path.join(self.work_dir, f"ckpt{self.cycle}")
        self.ckpt = CheckpointManager(self.spark, base, run_id=f"cycle{self.cycle}")
        self._instrument(self.ckpt)
        return ingest_web_corpus(self.pages_a, self.ckpt)

    def _instrument(self, ckpt: CheckpointManager) -> None:
        """Record a span around each of the manager's public stage /
        write_stage / merge_append calls (instance attributes shadow the
        methods, so the manager's own ``self.write_stage`` calls nest)."""
        for method, name_at in (("stage", 0), ("write_stage", 1), ("merge_append", 1)):
            inner = getattr(ckpt, method)

            def wrapped(*args, _inner=inner, _method=method, _at=name_at, **kw):
                idx = self.spans.open(f"checkpoint.{_method}", stage=kw.get("name", args[_at]))
                try:
                    return _inner(*args, **kw)
                finally:
                    self.spans.close(idx)

            setattr(ckpt, method, wrapped)

    def append(self) -> dict:
        return ingest_web_corpus(self.pages_b, self.ckpt)

    def resume(self) -> dict:
        for name in RESUMED:
            os.remove(self.ckpt._manifest_path(name))
        return ingest_web_corpus(self.pages_b, self.ckpt)

    def readback(self) -> dict:
        images = self.ckpt.read("sat_images")
        sats = self.ckpt.read("satellites").withColumnRenamed("id", "sat_id")
        agg = images.join(sats, on="sat_id").groupBy("name").agg(
            F.count(F.lit(1)).alias("images"),
            F.round(F.sum("cloud_cover"), 6).alias("cloud_cover_sum"),
        )
        return {"per_satellite": sort_rows(agg.toPandas(), ["name"])}

    def observe(self, op: str, result: dict) -> dict:
        """Untimed: the ingest ops return lazily re-read checkpoints (the
        stage writes already happened); collect what the checks need.
        After the last op the cycle's checkpoint is removed."""
        if op == "readback":
            shutil.rmtree(self.ckpt.base, ignore_errors=True)
            return result
        return {
            "web_pages": sort_rows(result["web_pages"].select("url", "text").toPandas(), ["url"]),
            "sat_images": sort_rows(result["sat_images"].select("id", "sat_id").toPandas(), ["id"]),
            "satellites": sort_rows(result["satellites"].toPandas(), ["id"]),
            "item_types": sort_rows(result["item_types"].toPandas(), ["id"]),
        }

    def checkpoint_bytes(self) -> int:
        """Bytes of committed stage data files (manifests excluded)."""
        total = 0
        for root, _, names in os.walk(self.ckpt.base):
            total += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet"))
        return total


WORKLOADS = {
    "spatial": Spatial,
    "ingest_resume": IngestResume,
}
