"""Hierarchical lon/lat cell index (H3/S2-style), deterministic, pure numpy.

The reference relies on PostGIS GiST indexes for spatial joins
(/root/reference/database/db.py:109,111,212,232,252 ``spatial_index=True``).
Spark has no secondary index, so the engine replaces GiST with a
*cell-cover equi-join*: every geometry is covered by grid cells at a chosen
resolution, the cover is exploded, both sides equi-join on ``cell``, pairs
are deduped, and an exact kernel refines. This is the standard
Magellan/Sedona/GeoSpark design, re-implemented from scratch.

No ``h3`` library exists in this environment, so the index is our own
deterministic power-of-two lon/lat grid:

- at resolution ``r`` the world splits into 2^r x 2^r cells
  (lon step 360/2^r, lat step 180/2^r);
- cell id packs (r, ix, iy) into a single int64:
  ``r << 58 | ix << 29 | iy`` (r <= 28, ix/iy < 2^29) — int64 ids keep the
  shuffle key a primitive (cheap hash, cheap sort, range-partitionable);
- parent/child relationships are bit shifts, so multi-resolution covers
  can be aligned by truncation (like H3 ``cell_to_parent``).

Scale notes (100 TB): the cell id is the shuffle key for every spatial
join. Hot cells (dense clusters) are salted (operators.spatial_join) and
the fact table can be written sorted/bucketed by cell so Catalyst prunes
scans on cell predicates.
"""

from __future__ import annotations

import math

import numpy as np

MAX_RES = 28
_RES_SHIFT = 58
_IX_SHIFT = 29
_MASK29 = (1 << 29) - 1


def cell_id(res: int, ix: np.ndarray, iy: np.ndarray):
    return (np.int64(res) << _RES_SHIFT) | (ix.astype(np.int64) << _IX_SHIFT) | iy.astype(np.int64)


def cell_res(cid: np.ndarray) -> np.ndarray:
    return (np.asarray(cid, dtype=np.int64) >> _RES_SHIFT).astype(np.int32)


def cell_ixy(cid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cid, dtype=np.int64)
    return ((c >> _IX_SHIFT) & _MASK29, c & _MASK29)


def _axis_index(v, lo: float, span: float, n: int) -> np.ndarray:
    # Clamp in floating point before the cast, so +-inf and huge values
    # land in the edge cells as in the Catalyst twin and cover_bbox; NaN
    # maps to 0 like Java's (long) NaN.
    x = np.clip((np.asarray(v, dtype=np.float64) - lo) / span * n, 0, n - 1)
    return np.where(np.isnan(x), 0, x).astype(np.int64)


def cell_of(lon: np.ndarray, lat: np.ndarray, res: int):
    """Cell id containing each point. Vectorized."""
    n = 1 << res
    return cell_id(res, _axis_index(lon, -180.0, 360.0, n), _axis_index(lat, -90.0, 180.0, n))


def cell_boxes(cid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(minx, miny, maxx, maxy) arrays of each cell's rectangle. Vectorized."""
    c = np.asarray(cid, dtype=np.int64)
    ix, iy = cell_ixy(c)
    n = (np.int64(1) << cell_res(c).astype(np.int64)).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    minx = -180.0 + ix.astype(np.float64) * w
    miny = -90.0 + iy.astype(np.float64) * h
    return minx, miny, minx + w, miny + h


def _bbox_index(v: float, lo: float, span: float, n: int) -> int:
    # clamped before the floor, so +-inf land in the edge cells
    return math.floor(min(max((v - lo) / span * n, 0.0), n - 1.0))


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """All cells at ``res`` overlapping the bbox, x-major. Vectorized."""
    n = 1 << res
    ix0, ix1 = _bbox_index(minx, -180.0, 360.0, n), _bbox_index(maxx, -180.0, 360.0, n)
    iy0, iy1 = _bbox_index(miny, -90.0, 180.0, n), _bbox_index(maxy, -90.0, 180.0, n)
    ny = max(iy1 - iy0 + 1, 0)
    k = np.arange(max(ix1 - ix0 + 1, 0) * ny)
    return cell_id(res, ix0 + k // max(ny, 1), iy0 + k % max(ny, 1))


def choose_res(width_deg: float, target_cells: int = 4) -> int:
    """Resolution so a geometry of the given extent covers ~target_cells^0.5
    cells per axis — bounds cell-join fan-out for big footprints
    (SURVEY §7 'resolution heuristics')."""
    if width_deg <= 0:
        return MAX_RES
    per_axis = max(1.0, float(target_cells) ** 0.5)
    res = int(np.floor(np.log2(360.0 / (width_deg / per_axis))))
    return int(np.clip(res, 0, MAX_RES))


def ring(cid: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 block) — kNN
    ring expansion (BASELINE north_star)."""
    res = int(cell_res(np.asarray(cid)))
    ix, iy = cell_ixy(np.asarray(cid))
    n = 1 << res
    xs = np.arange(int(ix) - k, int(ix) + k + 1)
    ys = np.clip(np.arange(int(iy) - k, int(iy) + k + 1), 0, n - 1)
    xs = np.mod(xs, n)  # wrap antimeridian
    gx, gy = np.meshgrid(np.unique(xs), np.unique(ys), indexing="ij")
    return cell_id(res, gx.ravel(), gy.ravel())


def parent(cid: np.ndarray, res: int) -> np.ndarray:
    """Truncate a cell id to a coarser resolution (H3 cell_to_parent)."""
    r = cell_res(cid)
    ix, iy = cell_ixy(cid)
    shift = (r - res).astype(np.int64)
    return cell_id(res, ix >> shift, iy >> shift)
