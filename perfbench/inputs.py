"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed, size)``: the same seed
writes byte-identical parquet files, another seed writes different ones.
Generation runs in-process with numpy and pyarrow, before any Spark session
exists, so the engine under test only ever sees the parquet files.

Geography follows the engine's fixtures: Europe (lon -10..30, lat 40..62)
with a fifth of the points in a hot cluster near Berlin.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pda_spark.geo import wkb

LON_RANGE = (-10.0, 30.0)
LAT_RANGE = (40.0, 62.0)
HOT = (13.4, 52.5, 0.5, 0.3)  # Berlin: centre lon/lat, sigma lon/lat
CLASSES = ["Urban area", "Forest", "Lake", "River", "Farmland", "Wetland"]
SATS = ["s145", "s201", "s300", "s400"]


@dataclass(frozen=True)
class Sizes:
    points: int = 120_000
    land_cover: int = 600
    knn_queries: int = 300
    footprints: int = 2_500
    coverage_polys: int = 240  # the first land-cover polygons
    pages: int = 1_000
    parts: int = 4  # files per large input table


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input table, so resizing one table does
    # not reshuffle the others
    return np.random.default_rng([seed, sum(stream.encode()) * 7919 + len(stream)])


def _lonlat(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Uniform over the region, except exactly a fifth in the hot cluster."""
    lon = rng.uniform(*LON_RANGE, n)
    lat = rng.uniform(*LAT_RANGE, n)
    hot = rng.permutation(n) < n // 5
    lon[hot] = HOT[0] + rng.normal(0, HOT[2], hot.sum())
    lat[hot] = HOT[1] + rng.normal(0, HOT[3], hot.sum())
    return lon, lat


def _spread(rng: np.random.Generator, lo: float, hi: float, n: int, log: bool = False) -> np.ndarray:
    """n values evenly spaced over [lo, hi] in random order: every seed gets
    the same size distribution, so the work per run varies only with
    placement, not with how many large shapes a seed happened to draw."""
    v = np.exp(np.linspace(np.log(lo), np.log(hi), n)) if log else np.linspace(lo, hi, n)
    return rng.permutation(v)


def _star_ring(rng, cx, cy, radius, n_vertices, r_lo, r_hi) -> np.ndarray:
    """Closed star-shaped ring around (cx, cy): simple by construction
    (angles strictly increase, every vertex is visible from the centre)."""
    ang = 2 * np.pi * (np.arange(n_vertices) + rng.uniform(0, 0.8, n_vertices)) / n_vertices
    r = radius * rng.uniform(r_lo, r_hi, n_vertices)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def land_cover(seed: int, n: int, first: int) -> pd.DataFrame:
    """Irregular land-cover polygons: 12-48 vertices, radii log-uniform in
    0.05-0.6 deg, a quarter with a hole. Outer vertices sit at >= 0.6 r
    with angular gaps < 1.8/n of a turn, so every outer edge stays beyond
    0.53 r from the centre; holes stay within 0.3 r and never touch it."""
    rng = _rng(seed, "land_cover")
    lon, lat = _lonlat(rng, n)
    # the first ``first`` polygons (the ones coverage_area unions) are
    # spread on their own, so that subset's size mix is fixed too
    radius = np.concatenate([_spread(rng, 0.05, 0.6, k, log=True) for k in (first, n - first)])
    vertices = rng.permutation(12 + np.arange(n) % 37)
    holed = rng.permutation(n) < n // 4
    geoms = []
    for i in range(n):
        outer = _star_ring(rng, lon[i], lat[i], radius[i], int(vertices[i]), 0.6, 1.0)
        rings = [outer]
        if holed[i]:
            rings.append(_star_ring(rng, lon[i], lat[i], radius[i], 8, 0.15, 0.3)[::-1])
        geoms.append(wkb.polygon(rings))
    return pd.DataFrame(
        {
            "lc_id": np.arange(n, dtype=np.int64),
            "featureclass": [CLASSES[i % len(CLASSES)] for i in range(n)],
            "geom": geoms,
        }
    )


def points(seed: int, n: int) -> pd.DataFrame:
    """Geoparsed page locations: plain lon/lat doubles plus an id."""
    rng = _rng(seed, "points")
    lon, lat = _lonlat(rng, n)
    return pd.DataFrame({"pt_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})


def knn_queries(seed: int, n: int) -> pd.DataFrame:
    rng = _rng(seed, "knn_queries")
    lon, lat = _lonlat(rng, n)
    return pd.DataFrame(
        {"query_id": np.arange(n, dtype=np.int64), "qgeom": wkb.points_vec(lon, lat)}
    )


def footprints(seed: int, n: int) -> pd.DataFrame:
    """Scene footprints as ROTATED quads (0.05-0.15 deg half-size). Axis-
    aligned boxes would take the intersects refine's rectangle shortcut and
    bypass the polygon-pair kernel this workload exists to exercise."""
    rng = _rng(seed, "footprints")
    lon, lat = _lonlat(rng, n)
    half = _spread(rng, 0.05, 0.15, n)
    theta = _spread(rng, 0.1, np.pi / 2 - 0.1, n)
    aspect = _spread(rng, 0.6, 1.0, n)
    corners = np.array([[-1, -1], [1, -1], [1, 1], [-1, 1], [-1, -1]], dtype=np.float64)
    geoms = []
    for i in range(n):
        c, s = np.cos(theta[i]), np.sin(theta[i])
        local = corners * np.array([half[i], half[i] * aspect[i]])
        ring = np.column_stack(
            [lon[i] + local[:, 0] * c - local[:, 1] * s, lat[i] + local[:, 0] * s + local[:, 1] * c]
        )
        geoms.append(wkb.polygon([ring]))
    return pd.DataFrame(
        {
            "fp_id": np.arange(n, dtype=np.int64),
            "sat_id": [SATS[int(k)] for k in rng.integers(0, len(SATS), n)],
            "fgeom": geoms,
        }
    )


def page_window(seed: int, n_pages: int) -> tuple[int, int]:
    """First page index of the ingest batch: the seed picks the window."""
    start = int(_rng(seed, "pages").integers(0, 10_000_000)) * 10
    return start, start + n_pages


def pages(start: int, stop: int) -> pd.DataFrame:
    """Common-Crawl-style pages from the engine's own page synthesizer,
    with the stored ``text`` column the corpus contract requires."""
    from pda_spark.functions import extract
    from pda_spark.sources import web_pages

    rows = [web_pages.page_for_index(i) for i in range(start, stop)]
    out = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "lang"])
    out["text"] = extract.extract_text_series(out["html"])
    return out[["url", "warc_ts", "html", "text", "lang"]]


def write_parquet(df: pd.DataFrame, path: str, parts: int) -> int:
    """Write ``df`` deterministically as a directory of ``parts`` parquet
    files (a multi-file table: the engine's scan keeps one split per small
    file, so a single file would run every scan stage one task wide).
    Returns the total byte size."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for k, chunk in enumerate(np.array_split(np.arange(len(df)), parts)):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        table = pa.Table.from_pandas(df.iloc[chunk], preserve_index=False)
        pq.write_table(table, f, compression="snappy", coerce_timestamps="us")
        total += os.path.getsize(f)
    return total


def build(workload: str, seed: int, out_dir: str, sizes: Sizes = Sizes()) -> dict:
    """Write the workload's inputs under ``out_dir``; returns the in-memory
    frames (for the oracles) and the parquet paths."""
    os.makedirs(out_dir, exist_ok=True)
    frames: dict[str, pd.DataFrame] = {}
    if workload == "spatial":
        frames["land_cover"] = land_cover(seed, sizes.land_cover, sizes.coverage_polys)
        frames["points"] = points(seed, sizes.points)
        frames["queries"] = knn_queries(seed, sizes.knn_queries)
        frames["footprints"] = footprints(seed, sizes.footprints)
    elif workload == "ingest_resume":
        start, stop = page_window(seed, sizes.pages)
        half = sizes.pages // 2
        frames["pages_a"] = pages(start, stop)
        frames["pages_b"] = pages(start + half, stop + half)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    paths, nbytes = {}, {}
    for name, df in frames.items():
        paths[name] = os.path.join(out_dir, name)
        nbytes[name] = write_parquet(df, paths[name], parts=1 if len(df) < 2_000 else sizes.parts)
    return {"frames": frames, "paths": paths, "bytes": nbytes}
