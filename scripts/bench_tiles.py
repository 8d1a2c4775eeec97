"""Tile-assignment throughput (BASELINE metric names "tiles/sec"):
rasterize a large deterministic polygon table to tile grids via
operators.tiling.rasterize_polygons (cover_cells Arrow UDF -> explode ->
dedup) and report polygons/sec + tiles/sec, steady-state min-of-REPS.

Writes BENCH/tiles.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POLYGONS = int(os.environ.get("PDA_TILES_POLYGONS", "200000"))
RES = int(os.environ.get("PDA_TILES_RES", "10"))
REPS = int(os.environ.get("PDA_TILES_REPS", "3"))
CORES = int(os.environ.get("PDA_TILES_CORES", "8"))


def main() -> None:
    from pyspark.sql import functions as F

    from pda_spark.operators import tiling
    from pda_spark.plans.fixtures import _mk_box
    from pda_spark.session import get_spark

    spark = get_spark("pda-tiles", cores=CORES, shuffle_partitions=2 * CORES)
    spark.sparkContext.setLogLevel("ERROR")

    polys = (
        spark.range(0, N_POLYGONS, numPartitions=4 * CORES)
        .withColumn("x", F.pmod(F.col("id") * 7919 + 13, F.lit(3200)) / 10.0 - 170.0)
        .withColumn("y", F.pmod(F.col("id") * 104729 + 7, F.lit(1500)) / 10.0 - 75.0)
        .withColumn("w", F.pmod(F.col("id"), F.lit(9)) / 10.0 + 0.1)
        .withColumn("key", F.concat(F.lit("class_"), F.pmod(F.col("id"), F.lit(32))))
        .withColumn("geom", _mk_box(F.col("x"), F.col("y"), F.col("x") + F.col("w"), F.col("y") + F.col("w")))
        .select("key", "geom")
    )
    polys.write.mode("overwrite").parquet("/tmp/pda_tiles_polys")
    src = spark.read.parquet("/tmp/pda_tiles_polys")

    def run() -> int:
        out = tiling.rasterize_polygons(src, res=RES, key="key", tight=False)
        return out.count()

    n_tiles = run()  # warmup (also yields the tile count)
    elapsed = None
    for _ in range(REPS):
        t0 = time.time()
        run()
        dt = time.time() - t0
        elapsed = dt if elapsed is None else min(elapsed, dt)
    result = {
        "metric": "tile rasterization throughput",
        "n_polygons": N_POLYGONS,
        "res": RES,
        "cores": CORES,
        "n_tiles": n_tiles,
        "elapsed_sec": round(elapsed, 3),
        "polygons_per_sec": round(N_POLYGONS / elapsed),
        "tiles_per_sec": round(n_tiles / elapsed),
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH", "tiles.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
