"""In-process timings of the numpy kernels under the Spark operators:
decode, pixel-centre affine, UTM -> WGS84 reprojection, cell keying and
point-in-polygon, each on seeded arrays and reported per element."""

from __future__ import annotations

import time

import numpy as np

from tiff_to_geojson_csv_json_format_converter_spark.functions import affine, cells, geometry, projection
from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs, synth

from .inputs import IMAGE_SIZES, image_offset
from .measure import median

N = 1 << 20  # elements per kernel call
REPEATS = 5


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def kernel_metrics(seed: int) -> dict[str, float]:
    rng = np.random.default_rng([seed, 5])
    rows = rng.integers(0, 256, N)
    cols = rng.integers(0, 256, N)
    transform = (200.0, 0.0, 700_000.0, 0.0, -200.0, 3_150_000.0)  # UTM 43N over Delhi
    x, y = affine.pixel_to_world(transform, rows, cols)
    lon = 77.0 + rng.uniform(0.0, 0.5, N)
    lat = 28.0 + rng.uniform(0.0, 0.5, N)
    hole = [np.asarray(r, dtype=np.float64) for r in next(
        p["rings"] for p in synth.polygons() if p["polygon_id"] == "poly_0005")]

    off = image_offset(seed)
    imgs = synth.generate_pandas(np.arange(off, off + 8), 8, IMAGE_SIZES)
    decoded_bytes = sum(int(r.w) * int(r.h) * int(r.band_count) * 4 for r in imgs.itertuples())

    def decode_all():
        for r in imgs.itertuples():
            codecs.decode(r.bytes, r.fmt, r.w, r.h * r.band_count)

    ns = 1e9 / N
    return {
        "sources.decode_mb_per_s": decoded_bytes / 2**20 / _median_time(decode_all),
        "functions.affine_ns_per_px": _median_time(lambda: affine.pixel_to_world(transform, rows, cols)) * ns,
        "functions.reproject_ns_per_px": _median_time(lambda: projection.to_wgs84(x, y, "EPSG:32643")) * ns,
        "functions.cell_id_ns_per_pt": _median_time(lambda: cells.cell_id(lon, lat, 14)) * ns,
        "functions.pip_ns_per_pt": _median_time(lambda: geometry.points_in_polygon(lon, lat, hole)) * ns,
    }
