"""Web-page extraction kernels: html -> text, geoparse, footprint parse.

The reference ingests structured JSON from the Planet API
(/root/reference/api_importer/clients/data.py:212-234) — our web-scale
front end generalizes that to Common-Crawl-style pages: the same typed
feature is embedded in HTML and must be recovered by vectorized UDFs.

Determinism contract (BASELINE input_hint): ``extract_text`` is a pure
function of the html bytes; for a given url the extracted text is
byte-identical on every run, partition layout, and parallelism level.
All string work uses pandas' C-vectorized ``.str`` ops — no per-row
Python in the text path.
"""

from __future__ import annotations

import json
import re
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pda_spark.geo import kernels, wkb

_SCRIPT_RE = r"(?is)<(script|style)\b[^>]*>.*?</\1>"
_TAG_RE = r"(?s)<[^>]+>"
_WS_RE = r"\s+"
_GEOJSON_RE = r'(?is)<script type="application/geo\+json">(.*?)</script>'
_LOCATED_RE = r"Located at (-?\d+\.\d+), (-?\d+\.\d+)"


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized html -> visible text. Byte-identical per input bytes."""
    s = html.map(lambda b: bytes(b).decode("utf-8", errors="replace"))
    s = s.str.replace(_SCRIPT_RE, " ", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    s = s.str.replace(_WS_RE, " ", regex=True)
    return s.str.strip()


def extract_text(df: DataFrame, html_col: str = "html", out_col: str = "text") -> DataFrame:
    @F.pandas_udf(T.StringType())
    def _udf(h: pd.Series) -> pd.Series:
        return extract_text_series(h)

    return df.withColumn(out_col, _udf(F.col(html_col)))


def geoparse_latlon(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Extract the 'Located at <lat>, <lon>' mention as lat/lon doubles
    (null when absent) plus a point-geometry WKB column ``point_geom``."""

    @F.pandas_udf(T.StructType([
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("point_geom", T.BinaryType()),
    ]))
    def _udf(h: pd.Series) -> pd.DataFrame:
        s = h.map(lambda b: bytes(b).decode("utf-8", errors="replace"))
        m = s.str.extract(_LOCATED_RE)
        lat = pd.to_numeric(m[0], errors="coerce")
        lon = pd.to_numeric(m[1], errors="coerce")
        geoms = [
            wkb.point(lo, la) if not (np.isnan(lo) or np.isnan(la)) else None
            for lo, la in zip(lon, lat)
        ]
        return pd.DataFrame({"lat": lat, "lon": lon, "point_geom": geoms})

    return df.withColumn("_geo", _udf(F.col(html_col))).select("*", "_geo.*").drop("_geo")


FOOTPRINT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("clear_confidence_percent", T.DoubleType()),
        T.StructField("cloud_cover", T.DoubleType()),
        T.StructField("time_acquired", T.TimestampType()),
        T.StructField("geom", T.BinaryType()),
        T.StructField("centroid", T.BinaryType()),
        T.StructField("sat_id", T.StringType()),
        T.StructField("sat_name", T.StringType()),
        T.StructField("pixel_res", T.DoubleType()),
        T.StructField("item_type_id", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)


def _parse_acquired(values: list) -> pd.Series:
    """``acquired`` values -> timestamps with one ``pd.to_datetime`` call
    per batch; Spark stores the same instants as for one call per value.
    A batch that this one call would not parse exactly as the per-value
    calls (values that are not ISO 8601, or that mix time zone offsets)
    is parsed value by value."""
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", FutureWarning)
            return pd.to_datetime(pd.Series(values, dtype=object), format="ISO8601")
    except (ValueError, FutureWarning):
        return pd.Series([pd.to_datetime(v) for v in values])


def parse_footprints(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Pages -> sat_images-shaped fact rows (SURVEY §1.3 web-corpus row).

    Reproduces ImageDataFeature parsing (data.py:221-234): nested property
    extraction, ``str.title()`` on the provider name (-> sat_name, F10),
    ISO timestamp parse (F11), WKB geometry from GeoJSON coordinates (F8),
    and the insert-time computed centroid (db.py:73-84). Pages without a
    footprint block yield no row (generator semantics of get_features,
    data.py:142-203).
    """

    def fn(batches):
        for pdf in batches:
            s = pdf[html_col].map(lambda b: bytes(b).decode("utf-8", errors="replace"))
            blocks = s.str.extract(_GEOJSON_RE)[0]
            rows, acquired = [], []
            for url, block in zip(pdf["url"], blocks):
                if not isinstance(block, str):
                    continue
                try:
                    feat = json.loads(block)
                except json.JSONDecodeError:
                    continue
                props = feat.get("properties", {})
                coords = feat.get("geometry", {}).get("coordinates")
                if not coords or "id" not in props:
                    continue
                geom = wkb.polygon([np.asarray(c, dtype=np.float64) for c in coords])
                lon_c, lat_c = kernels.centroid_3035(wkb.decode(geom))
                acquired.append(props.get("acquired"))
                rows.append(
                    {
                        "id": str(props["id"]),
                        "clear_confidence_percent": float(props.get("clear_confidence_percent", np.nan)),
                        "cloud_cover": float(props.get("cloud_cover", np.nan)),
                        "geom": geom,
                        "centroid": wkb.point(lon_c, lat_c),
                        "sat_id": str(props.get("satellite_id")),
                        "sat_name": str(props.get("provider", "")).title(),
                        "pixel_res": float(props.get("pixel_resolution", np.nan)),
                        "item_type_id": str(props.get("item_type")),
                        "url": url,
                    }
                )
            out = pd.DataFrame(rows, columns=[f.name for f in FOOTPRINT_SCHEMA.fields])
            out["time_acquired"] = _parse_acquired(acquired)
            yield out

    return pages.mapInPandas(fn, FOOTPRINT_SCHEMA)
