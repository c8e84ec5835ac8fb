"""Plain numpy answers the benchmark checks the program's outputs
against. They run in the benchmark process, outside every timed window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tiff_to_geojson_csv_json_format_converter_spark.functions import affine, cells, geometry, projection
from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs


def raster_points(images: pd.DataFrame) -> pd.DataFrame:
    """Valid pixels of every image as (image_id, band, pixel_idx, lon,
    lat, z): pixel-centre affine, float32 downcast, reprojection to
    WGS84, NoData filter, rounding to 6/6/2 decimals."""
    parts = []
    for r in images.itertuples(index=False):
        grid = codecs.decode(r.bytes, r.fmt, r.w, r.h * r.band_count).reshape(r.band_count, r.h, r.w)
        idx = np.arange(r.w * r.h, dtype=np.int64)
        x, y = affine.pixel_to_world(tuple(r.transform), idx // r.w, idx % r.w)
        lon, lat = projection.to_wgs84(x.astype(np.float32).astype(np.float64),
                                       y.astype(np.float32).astype(np.float64), r.crs)
        for band in range(r.band_count):
            z = grid[band].reshape(-1).astype(np.float32)
            keep = (z > 0) if grid.dtype == np.uint8 else (z > -1e30)
            parts.append(pd.DataFrame({
                "image_id": r.image_id, "band": band, "pixel_idx": idx[keep],
                "lon": np.round(lon[keep], 6), "lat": np.round(lat[keep], 6),
                "z": np.round(z[keep], 2).astype(np.float64),
            }))
    return pd.concat(parts, ignore_index=True)


def tile_ids(lon, lat, level: int) -> np.ndarray:
    tx, ty = cells.tile_xy(lon, lat, level)
    return tx * (1 << level) + ty


def tile_fold(points: pd.DataFrame, level: int) -> pd.DataFrame:
    g = points.assign(tile_id=tile_ids(points.lon.to_numpy(), points.lat.to_numpy(), level))
    return g.groupby("tile_id").agg(
        n_points=("z", "size"), sum_z=("z", "sum"), min_z=("z", "min"), max_z=("z", "max"),
        n_images=("image_id", "nunique"),
    )


def zonal(points: pd.DataFrame, rings, keys=("image_id", "band")) -> pd.DataFrame:
    inside = geometry.points_in_polygon(points.lon.to_numpy(), points.lat.to_numpy(),
                                        [np.asarray(r, dtype=np.float64) for r in rings])
    return points[inside].groupby(list(keys)).agg(
        count=("z", "size"), min=("z", "min"), max=("z", "max"), mean=("z", "mean"),
    )


def knn(points: pd.DataFrame, qlon: float, qlat: float, k: int) -> list[int]:
    d2 = (points.lon.to_numpy() - qlon) ** 2 + (points.lat.to_numpy() - qlat) ** 2
    order = np.lexsort((points.point_id.to_numpy(), d2))[:k]
    return points.point_id.to_numpy()[order].tolist()


def quantized(emb: pd.DataFrame) -> np.ndarray:
    """The engine's integer embedding: floor(v * 1000) as int64."""
    return np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64) * 1000.0).astype(np.int64)


def cos_e6(q: np.ndarray, a, b) -> np.ndarray:
    dots = (q[a] * q[b]).sum(axis=1)
    na = (q[a] * q[a]).sum(axis=1)
    nb = (q[b] * q[b]).sum(axis=1)
    return np.floor(dots.astype(np.float64) / np.sqrt(na.astype(np.float64) * nb.astype(np.float64)) * 1e6).astype(np.int64)


def brute_topk(q: np.ndarray, ids: np.ndarray, k: int) -> dict[int, list[int]]:
    """Exact self top-k by quantized cosine; ties by neighbour id."""
    dots = (q @ q.T).astype(np.float64)
    n2 = np.diag(dots).copy()
    cos = np.floor(dots / np.sqrt(np.outer(n2, n2)) * 1e6)
    np.fill_diagonal(cos, -np.inf)
    out = {}
    for i, qid in enumerate(ids):
        order = np.lexsort((ids, -cos[i]))[:k]
        out[int(qid)] = ids[order].tolist()
    return out


def shingles(text: str, n: int) -> set[str]:
    return {text[i:i + n] for i in range(max(len(text) - n + 1, 1))}


def jaccard_e6(a: set, b: set) -> int:
    inter = len(a & b)
    return int(np.floor(inter / (len(a) + len(b) - inter) * 1e6))


def components(pairs) -> dict[int, int]:
    """Union-find over edge pairs: vertex -> minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}
