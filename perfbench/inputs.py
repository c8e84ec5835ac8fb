"""Seeded input generators for the benchmark workloads.

Everything the program receives is built here from ``--seed``: the
image index offset of the synthetic raster table, the point jitter of
the lineitem-shaped point table, the kNN query points, the documents and
the embedding vectors. The same seed always gives the same inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

# synth.SCALES["m"]: the 64/256 px size mix of the bench image table
IMAGE_SIZES = synth.SCALES["m"][1]

# the 31-word vocabulary of the documents test table
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


# synth derives size, format, band count and validity mode from the image
# index modulo 2, 3, 5, 8 and 16; offsets that are multiples of their least
# common multiple keep that mix (and so the work per pass) the same for
# every seed, while the placement of every image still moves
_MIX_PERIOD = 240


def image_offset(seed: int) -> int:
    return _MIX_PERIOD * (seed % 4096)


def images_df(spark, seed: int, n_images: int, num_partitions: int):
    """The ``synth.images_df(spark, "m")`` table, starting at a seeded
    image index: placement, format, CRS and validity mode all derive
    from the index, so the offset changes the mix the way new data would."""
    off = image_offset(seed)
    schema = synth.ARROW_SCHEMA_DDL

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("id").to_numpy()
            pdf = synth.generate_pandas(ids, n_images, IMAGE_SIZES)
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            tbl = tbl.cast(pa.schema([
                ("image_id", pa.string()), ("bytes", pa.binary()),
                ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
                ("caption", pa.string()), ("phash", pa.int64()),
                ("transform", pa.list_(pa.float64())), ("crs", pa.string()),
                ("nodata", pa.float64()), ("band_count", pa.int32()),
                ("min_lon", pa.float64()), ("min_lat", pa.float64()),
                ("max_lon", pa.float64()), ("max_lat", pa.float64()),
            ]))
            yield from tbl.to_batches()

    return spark.range(off, off + n_images, numPartitions=num_partitions).mapInArrow(gen, schema)


def points_pdf(seed: int, n_rows: int) -> pd.DataFrame:
    """Lineitem-shaped rows mapped onto the 8x8 mosaic of 32x32-pixel
    images over the Delhi box (the ``pts`` table of the query registry),
    plus a seeded sub-pixel jitter so every seed moves every point."""
    rng = np.random.default_rng([seed, 1])
    orderkey = np.arange(n_rows, dtype=np.int64) // 4
    linenumber = np.arange(n_rows, dtype=np.int64) % 4 + 1
    partkey = rng.integers(0, 20_000, n_rows)
    suppkey = rng.integers(0, 1_000, n_rows)
    pid = orderkey * 10 + linenumber
    image_id = pid % 64
    imgx = image_id % 8
    imgy = image_id // 8
    prow = partkey % 32
    pcol = suppkey % 32
    jitter = rng.uniform(-0.0009, 0.0009, (2, n_rows))
    lon = 77.0 + imgx * 0.064 + (pcol + 0.5) * 0.002 + jitter[0]
    lat = 28.5 - imgy * 0.064 - (prow + 0.5) * 0.002 + jitter[1]
    return pd.DataFrame({
        "point_id": pid,
        "image_id": image_id,
        "lon": lon,
        "lat": lat,
        "z": rng.integers(1, 51, n_rows).astype(np.float64),
        "valid": (partkey + suppkey) % 10 != 0,
    })


def knn_queries_pdf(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    return pd.DataFrame({
        "query_id": [f"q{seed}_{i:05d}" for i in range(n)],
        "qlon": 77.0 + rng.uniform(0.0, 0.5, n),
        "qlat": 28.0 + rng.uniform(0.0, 0.5, n),
    })


def documents_pdf(seed: int, n_docs: int, n_sources: int = 20, dup_share: float = 0.1) -> pd.DataFrame:
    """Word-salad documents over the 31-word vocabulary, spread evenly
    over sources; ``dup_share`` of them are near copies (a few words
    replaced) of an earlier document of the same source."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= n_sources and rng.random() < dup_share:
            words = texts[i - n_sources * int(rng.integers(1, i // n_sources + 1))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % n_sources}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    })


N_PLANTED = 20


def embeddings_pdf(seed: int, n_vec: int, dim: int = 64, n_clusters: int = 10,
                   n_planted: int = N_PLANTED) -> pd.DataFrame:
    """Unit vectors around ``n_clusters`` seeded centres; the last
    ``n_planted`` are tiny perturbations of earlier vectors, so the
    high-threshold near-dup search has pairs to find."""
    rng = np.random.default_rng([seed, 4])
    centres = rng.normal(size=(n_clusters, dim))
    label = rng.integers(0, n_clusters, n_vec)
    vecs = centres[label] + rng.normal(scale=1.2, size=(n_vec, dim))
    src = rng.choice(n_vec - n_planted, n_planted, replace=False)
    vecs[n_vec - n_planted:] = vecs[src] + rng.normal(scale=0.01, size=(n_planted, dim))
    label[n_vec - n_planted:] = label[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    })
