"""Kernel microbenchmarks outside Spark, on a seeded sample of the
workload's own geometries: the bottom layer under the refine and union
ops (``geo.kernels``, ``geo.sweep``, ``geo.wkb``, ``geo.cells``).

Each kernel is called repeatedly until ``min_s`` has passed and reports
items per second of the whole repeated batch.
"""

from __future__ import annotations

import json
import re
import time

import numpy as np

from pda_spark.geo import cells, kernels, sweep, wkb

from perfbench import workloads as W

_LOCATED = re.compile(rb"Located at (-?\d+\.\d+), (-?\d+\.\d+)")
SAMPLE = 200        # polygons per kernel sample
PROBES = 20_000     # PIP probe points


def _rate(fn, items: int, min_s: float) -> float:
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return items * n / dt


def _sample(rng, seq, k):
    idx = np.sort(rng.choice(len(seq), size=min(k, len(seq)), replace=False))
    return [seq[i] for i in idx]


def geometries(workload: str, frames: dict, seed: int) -> dict:
    """WKB polygons and probe points drawn from the workload's inputs, per
    kernel: ``pip`` polygons against ``points``, ``pairs`` (left, right)
    for the polygon-pair test, ``cover`` polygons at ``res``. In
    ``spatial`` they follow the ops: land cover against points for PIP,
    footprints against land cover for the pair test and the raster cover.
    In ``ingest_resume`` they are the page footprints and the geoparsed
    page locations."""
    rng = np.random.default_rng([seed, 4242])
    if workload == "spatial":
        land = list(frames["land_cover"]["geom"])
        pip = _sample(rng, land, SAMPLE)
        pts = frames["points"][["lon", "lat"]].to_numpy()
        feet = _sample(rng, list(frames["footprints"]["fgeom"]), SAMPLE)
        pairs, cover = (feet, land), feet
    elif workload == "ingest_resume":
        from perfbench.oracle import _GEOJSON

        html = [bytes(h) for h in frames["pages_a"]["html"]]
        rings = [np.asarray(json.loads(_GEOJSON.search(h.decode()).group(1))["geometry"]["coordinates"][0],
                            dtype=np.float64) for h in html]
        pip = _sample(rng, [wkb.polygon([r]) for r in rings], SAMPLE)
        pts = np.array([[float(m.group(2)), float(m.group(1))] for m in map(_LOCATED.search, html)])
        pairs, cover = (pip, pip), pip
    else:
        raise ValueError(workload)
    probes = pts[rng.choice(len(pts), size=min(PROBES, len(pts)), replace=False)]
    return {"pip": pip, "points": probes, "pairs": pairs, "cover": cover, "res": W.RASTER_RES}


def _bboxes(decoded) -> np.ndarray:
    return np.array([kernels.bbox(d) for d in decoded])


def run(workload: str, frames: dict, seed: int, min_s: float = 0.25) -> dict:
    g = geometries(workload, frames, seed)
    pip = [wkb.decode(b) for b in g["pip"]]
    pts = g["points"]

    # PIP: every probe point against each sampled polygon, bbox-pruned
    cand = [np.nonzero((pts[:, 0] >= b[0]) & (pts[:, 0] <= b[2]) & (pts[:, 1] >= b[1]) & (pts[:, 1] <= b[3]))[0]
            for b in _bboxes(pip)]
    n_pip = max(1, sum(len(c) for c in cand))

    def pip_all():
        for d, c in zip(pip, cand):
            if len(c):
                kernels.points_in_polygons(pts[c], d.polygons())

    # intersects: bbox-overlapping (left, right) pairs, batched
    left, right = ([wkb.decode(b) for b in side] for side in g["pairs"])
    lb, rb = _bboxes(left), _bboxes(right)
    ov = ((lb[:, None, 0] <= rb[None, :, 2]) & (rb[None, :, 0] <= lb[:, None, 2])
          & (lb[:, None, 1] <= rb[None, :, 3]) & (rb[None, :, 1] <= lb[:, None, 3]))
    ia, ib = np.nonzero(ov)

    rings = [d.polygons()[0] for d in pip]
    cover = _bboxes(wkb.decode(b) for b in g["cover"])
    return {
        "kernels.pip_points_per_s": _rate(pip_all, n_pip, min_s),
        "kernels.intersect_pairs_per_s": _rate(
            lambda: kernels.polys_intersect_batch(left, right, ia, ib), max(1, len(ia)), min_s),
        "sweep.union_polys_per_s": _rate(lambda: sweep.union_area(rings), len(rings), min_s),
        "wkb.decode_per_s": _rate(lambda: [wkb.decode(b) for b in g["pip"]], len(g["pip"]), min_s),
        "cells.cover_cells_per_poly": float(np.mean([len(cells.cover_bbox(*b, g["res"])) for b in cover])),
    }
