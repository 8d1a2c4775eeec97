"""Web-corpus ingest: pages -> footprint fact + dimension tables.

Spark-shape of the reference importer (/root/reference/importer.py:57-90
``data_api_importer``): the paginated API scan + per-row threaded INSERTs
(S1/S8/S9) become one partitioned read + set-oriented writes; source dedup
by id (data.py:198, S4) becomes ``dropDuplicates``; ON CONFLICT DO NOTHING
(db.py:65-70, S7) becomes ``CheckpointManager.merge_append``; the computed
centroid column (db.py:73-84) is materialized by the extraction UDF.

Every stage checkpoints with lineage so a killed run resumes mid-pipeline
(north_rule); tests/test_ingest.py kills-and-resumes by re-invoking with
the same checkpoint dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pda_spark import session
from pda_spark.functions import extract
from pda_spark.sources.checkpoint import CheckpointManager

FACT_COLS = [
    "id",
    "clear_confidence_percent",
    "cloud_cover",
    "time_acquired",
    "geom",
    "centroid",
    "sat_id",
    "item_type_id",
]


def ingest_web_corpus(pages: DataFrame, ckpt: CheckpointManager) -> dict[str, DataFrame]:
    """pages (url, warc_ts, html, text, lang) -> checkpointed tables.

    Returns dict with web_pages, sat_images, satellites, item_types.
    Incremental re-runs with new pages only append unseen urls/ids.
    """
    web_pages = ckpt.merge_append(pages, "web_pages", key="url")

    # the web_pages checkpoint is one or a few small files, so a parse
    # read straight off it runs in as many Python tasks: spread it over
    # the Arrow stage width instead
    footprints = ckpt.stage(
        "footprints",
        lambda: extract.parse_footprints(web_pages.repartition(session.arrow_width(web_pages))),
        parents=["web_pages"],
    )

    satellites = ckpt.stage(
        "satellites",
        lambda: footprints.select(
            F.col("sat_id").alias("id"), F.col("sat_name").alias("name"), "pixel_res"
        ).dropDuplicates(["id"]),
        parents=["footprints"],
    )
    item_types = ckpt.stage(
        "item_types",
        # deterministic winner per id: dropDuplicates keeps a
        # partition-order-dependent sat_id (the corpus maps one item type
        # to several sats), which would violate the determinism contract
        lambda: footprints.select(F.col("item_type_id").alias("id"), "sat_id")
        .groupBy("id")
        .agg(F.min("sat_id").alias("sat_id")),
        parents=["footprints"],
    )
    sat_images = ckpt.merge_append(
        footprints.select(*FACT_COLS), "sat_images", key="id", parents=["footprints"]
    )
    return {
        "web_pages": web_pages,
        "sat_images": sat_images,
        "satellites": satellites,
        "item_types": item_types,
    }
