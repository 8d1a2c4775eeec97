"""Index-free oracles and output checks.

Each oracle recomputes an op's answer from the generated inputs without
the engine's cell index: bbox-pruned brute force over ``pda_spark.geo``
kernels, a brute-force top-k for kNN, a separating-axis test for the tile
cover and a direct parse of the page html for ingest. They run once per
seed, outside every timed region.

``check`` compares an observed op result against the expectation and
returns a list of mismatch messages (empty when correct). ``digest``
hashes a result canonically, so two runs of one seed can be compared.
"""

from __future__ import annotations

import hashlib
import json
import re

import numpy as np
import pandas as pd

from pda_spark.geo import cells, kernels, proj, sweep, wkb

from perfbench import workloads as W

FLOAT_RTOL = 1e-9


# ------------------------------------------------------- spatial: points


def _bbox_rows(geoms: list[bytes]) -> tuple[list[wkb.Geom], np.ndarray]:
    decoded = [wkb.decode(g) for g in geoms]
    return decoded, np.array([kernels.bbox(g) for g in decoded])


def pip_pairs(points: pd.DataFrame, land_cover: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(point row, polygon row) of every point inside a polygon: points
    sorted by lon, each polygon's bbox picks a lon slice, then the lat
    range, then the even-odd ray cast."""
    lon = points["lon"].to_numpy()
    lat = points["lat"].to_numpy()
    order = np.argsort(lon, kind="mergesort")
    slon = lon[order]
    geoms, bb = _bbox_rows(list(land_cover["geom"]))
    pi, gi = [], []
    for j, g in enumerate(geoms):
        lo = np.searchsorted(slon, bb[j, 0], side="left")
        hi = np.searchsorted(slon, bb[j, 2], side="right")
        cand = order[lo:hi]
        cand = cand[(lat[cand] >= bb[j, 1]) & (lat[cand] <= bb[j, 3])]
        if not len(cand):
            continue
        inside = kernels.points_in_polygons(np.column_stack([lon[cand], lat[cand]]), g.polygons())
        hits = cand[inside]
        pi.append(hits)
        gi.append(np.full(len(hits), j))
    if not pi:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(pi), np.concatenate(gi)


def zonal_tiles(points: pd.DataFrame, land_cover: pd.DataFrame) -> dict:
    pi, gi = pip_pairs(points, land_cover)
    cell = cells.cell_of(points["lon"].to_numpy()[pi], points["lat"].to_numpy()[pi], W.TILE_RES)
    cls = land_cover["featureclass"].to_numpy()[gi]
    hist = pd.Series(cls).value_counts().rename_axis("featureclass").reset_index(name="n")
    ix, iy = cells.cell_ixy(cell)
    levels = []
    for z in range(W.TILE_RES + 1):
        shift = W.TILE_RES - z
        tx, ty = ix >> shift, iy >> shift
        cid = (np.int64(z) << 58) | (tx << 29) | ty
        c = pd.Series(cid).value_counts()
        levels.append(pd.DataFrame({"zoom": z, "cell": c.index.to_numpy(np.int64), "n": c.to_numpy()}))
    pyramid = pd.concat(levels, ignore_index=True)
    return {
        "pyramid": W.sort_rows(pyramid, ["zoom", "cell"]),
        "histogram": W.sort_rows(hist, ["featureclass"]),
    }


def knn(points: pd.DataFrame, queries: pd.DataFrame) -> dict:
    """Brute-force top-k in EPSG:3035 metres, ties broken by point id."""
    px, py = proj.fwd(points["lon"].to_numpy(), points["lat"].to_numpy())
    ids = points["pt_id"].to_numpy()
    qlon, qlat = wkb.decode_points_vec([bytes(b) for b in queries["qgeom"]])
    qx, qy = proj.fwd(qlon, qlat)
    rows = []
    for q, x, y in zip(queries["query_id"], qx, qy):
        d = np.hypot(px - x, py - y)
        near = np.argpartition(d, W.KNN_K + 8)[: W.KNN_K + 8]
        near = near[np.lexsort((ids[near], d[near]))][: W.KNN_K]
        rows.append(pd.DataFrame({"query_id": q, "pt_id": ids[near], "dist_m": d[near],
                                  "knn_rank": np.arange(1, W.KNN_K + 1)}))
    return {"knn": W.sort_rows(pd.concat(rows, ignore_index=True), ["query_id", "knn_rank"])}


# --------------------------------------------------- spatial: footprints


def overlay_join(footprints: pd.DataFrame, land_cover: pd.DataFrame) -> dict:
    fg, fb = _bbox_rows(list(footprints["fgeom"]))
    lg, lb = _bbox_rows(list(land_cover["geom"]))
    ov = (
        (fb[:, None, 0] <= lb[None, :, 2]) & (lb[None, :, 0] <= fb[:, None, 2])
        & (fb[:, None, 1] <= lb[None, :, 3]) & (lb[None, :, 1] <= fb[:, None, 3])
    )
    fi, li = np.nonzero(ov)
    hit = kernels.polys_intersect_batch(fg, lg, fi, li)
    pairs = pd.DataFrame({
        "featureclass": land_cover["featureclass"].to_numpy()[li[hit]],
        "fp_id": footprints["fp_id"].to_numpy()[fi[hit]],
    })
    per_class = pairs.groupby("featureclass").agg(
        pairs=("fp_id", "size"), images=("fp_id", "nunique")
    ).reset_index()
    return {"per_class": W.sort_rows(per_class, ["featureclass"])}


def coverage_area(land_cover: pd.DataFrame, n: int) -> dict:
    """Exact union area per class of the first ``n`` polygons from ONE
    scanline union over the whole class (the engine partitions it by
    cells and sums)."""
    rows = []
    for cls, grp in land_cover[land_cover["lc_id"] < n].groupby("featureclass"):
        polys = [wkb.decode(g).polygons()[0] for g in grp["geom"]]
        rows.append({"key": cls, "union_area": sweep.union_area(polys)})
    return {"areas": W.sort_rows(pd.DataFrame(rows), ["key"])}


def _sat_cover(ring: np.ndarray, res: int) -> np.ndarray:
    """Cells whose box meets the convex quad ``ring``: separating-axis test
    over the box axes (the bbox cover) and the quad's edge normals. Like
    the engine's tight cover, a bbox cover of at most 4 cells is kept
    whole (the exact filter only pays off on larger covers)."""
    q = ring[:-1]
    cand = cells.cover_bbox(q[:, 0].min(), q[:, 1].min(), q[:, 0].max(), q[:, 1].max(), res)
    if len(cand) <= 4:
        return cand
    n = 1 << res
    ix, iy = cells.cell_ixy(cand)
    x0 = -180.0 + ix * (360.0 / n)
    y0 = -90.0 + iy * (180.0 / n)
    box = np.stack([
        np.column_stack([x0, y0]), np.column_stack([x0 + 360.0 / n, y0]),
        np.column_stack([x0 + 360.0 / n, y0 + 180.0 / n]), np.column_stack([x0, y0 + 180.0 / n]),
    ], axis=1)  # (cells, 4, 2)
    keep = np.ones(len(cand), dtype=bool)
    for k in range(len(q)):
        e = q[(k + 1) % len(q)] - q[k]
        axis = np.array([-e[1], e[0]])
        qp = q @ axis
        bp = box @ axis
        keep &= ~((bp.max(axis=1) < qp.min()) | (bp.min(axis=1) > qp.max()))
    return cand[keep]


def rasterize(footprints: pd.DataFrame) -> dict:
    parts = []
    for key, g in zip(footprints["sat_id"], footprints["fgeom"]):
        tiles = _sat_cover(wkb.decode(g).polygons()[0][0], W.RASTER_RES)
        parts.append(pd.DataFrame({"key": key, "tile": tiles}))
    tiles = pd.concat(parts, ignore_index=True).drop_duplicates()
    return {"tiles": W.sort_rows(tiles, ["key", "tile"])}


# ------------------------------------------------------------ ingest_resume

_GEOJSON = re.compile(r'<script type="application/geo\+json">(.*?)</script>', re.S)


def _features(pages: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for html in pages["html"]:
        props = json.loads(_GEOJSON.search(bytes(html).decode("utf-8")).group(1))["properties"]
        rows.append({
            "id": props["id"], "sat_id": props["satellite_id"],
            "name": props["provider"].title(), "pixel_res": props["pixel_resolution"],
            "item_type": props["item_type"], "cloud_cover": props["cloud_cover"],
        })
    return pd.DataFrame(rows)


def _ingest_tables(pages: pd.DataFrame) -> dict:
    pages = pages.drop_duplicates("url")
    f = _features(pages)
    sats = f.drop_duplicates("sat_id")[["sat_id", "name", "pixel_res"]].rename(columns={"sat_id": "id"})
    items = f.groupby("item_type", as_index=False)["sat_id"].min().rename(columns={"item_type": "id"})
    return {
        "web_pages": W.sort_rows(pages[["url", "text"]], ["url"]),
        "sat_images": W.sort_rows(f[["id", "sat_id"]], ["id"]),
        "satellites": W.sort_rows(sats, ["id"]),
        "item_types": W.sort_rows(items, ["id"]),
    }


def ingest_resume(pages_a: pd.DataFrame, pages_b: pd.DataFrame) -> dict:
    both = pd.concat([pages_a, pages_b], ignore_index=True).drop_duplicates("url")
    merged = _ingest_tables(both)
    f = _features(both).merge(
        merged["satellites"].rename(columns={"id": "sat_id"}), on="sat_id", suffixes=("", "_s")
    )
    per_sat = f.groupby("name", as_index=False).agg(
        images=("id", "size"), cloud_cover_sum=("cloud_cover", "sum")
    )
    return {
        "ingest": _ingest_tables(pages_a),
        "append": merged,
        "resume": merged,
        "readback": {"per_satellite": W.sort_rows(per_sat, ["name"])},
    }


# ------------------------------------------------------------------ shared


def expected(workload: str, frames: dict, sizes) -> dict:
    """Per-op expected results for one seed's inputs."""
    if workload == "spatial":
        return {
            "zonal_tiles": zonal_tiles(frames["points"], frames["land_cover"]),
            "knn": knn(frames["points"], frames["queries"]),
            "overlay_join": overlay_join(frames["footprints"], frames["land_cover"]),
            "coverage_area": coverage_area(frames["land_cover"], sizes.coverage_polys),
            "rasterize": rasterize(frames["footprints"]),
        }
    if workload == "ingest_resume":
        return ingest_resume(frames["pages_a"], frames["pages_b"])
    raise ValueError(f"unknown workload {workload!r}")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reset_index(drop=True).copy()
    for c in out.columns:
        if out[c].dtype.kind in "iub":
            out[c] = out[c].astype(np.int64)
        elif out[c].dtype.kind == "f":
            out[c] = out[c].astype(np.float64)
        else:
            out[c] = out[c].astype(str)
    return out


def check(observed: dict, want: dict) -> list[str]:
    """Mismatches between an op's observed tables and the expected ones:
    same row count, same keys and integers, floats within FLOAT_RTOL."""
    errors = []
    for name, exp in want.items():
        got = observed.get(name)
        if got is None:
            errors.append(f"{name}: missing")
            continue
        got, exp = _canon(got), _canon(exp)
        if set(got.columns) != set(exp.columns):
            errors.append(f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
            continue
        exp = exp[list(got.columns)]
        if len(got) != len(exp):
            errors.append(f"{name}: {len(got)} rows, expected {len(exp)}")
            continue
        for c in got.columns:
            if got[c].dtype.kind == "f":
                if not np.allclose(got[c], exp[c], rtol=FLOAT_RTOL, atol=1e-9):
                    errors.append(f"{name}.{c}: values differ")
            elif not (got[c].to_numpy() == exp[c].to_numpy()).all():
                errors.append(f"{name}.{c}: values differ")
    return errors


def digest(observed: dict) -> str:
    """Order-stable hash of an op's tables, floats to 9 significant
    digits (aggregation order may move the last bits between runs)."""
    h = hashlib.sha256()
    for name in sorted(observed):
        df = _canon(observed[name])
        h.update(name.encode())
        for c in df.columns:
            col = df[c]
            if col.dtype.kind == "f":
                col = col.map(lambda v: f"{v:.9g}")
            h.update(c.encode())
            h.update("\x1f".join(map(str, col)).encode())
    return h.hexdigest()
