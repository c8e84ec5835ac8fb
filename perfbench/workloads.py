"""The benchmark's workloads.

Each workload builds its inputs from the seed, caches them, and lists
its operations. An operation is a chain of *steps*: each step is a
prefix of the operation (scan -> +extract -> +tiling/zonal/sinks ...)
and the last step is the whole operation. An untraced pass runs only
the last step of each operation; a traced pass also runs every prefix
as its own action, so a layer's self time is the difference between
two consecutive prefixes.

A step returns a DataFrame, which the runner executes with the ``noop``
writer (every column is computed, nothing is kept), or the directory a
sink has already written.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

from . import inputs, reference
from .measure import row_digest

DELHI = synth.GOLDEN_DELHI_RING
TILE_LEVEL = 12


def rings_of(pid: str) -> list:
    return next(p["rings"] for p in synth.polygons() if p["polygon_id"] == pid)


@dataclass
class Step:
    label: str  # "<layer>" or "<layer>.<part>"
    run: Callable[[], object]


@dataclass
class Op:
    name: str
    steps: list[Step]
    # digest columns: exact columns only, so the digest does not depend
    # on the summation order of floating-point aggregates
    digest_cols: tuple = ()


class Workload:
    """Base: ``build_inputs`` once per set-up round, ``ops`` per pass,
    ``check`` once per run."""

    name = ""

    def __init__(self, spark, seed: int, mods, out_dir: str):
        self.spark, self.seed, self.m, self.out_dir = spark, seed, mods, out_dir
        self.cached: list = []
        self._dir_no = 0

    def fresh_dir(self) -> str:
        self._dir_no += 1
        return os.path.join(self.out_dir, f"{self.name}-{self._dir_no:05d}")

    def cache(self, df):
        df = df.cache()
        df.count()
        self.cached.append(df)
        return df

    def drop_inputs(self):
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    def build_inputs(self):
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def build_probe_inputs(self):
        """Inputs only the probes read; built once, in the traced run."""

    def probes(self) -> list[Op]:
        return []

    def check(self, op: Op, out) -> list[str]:
        raise NotImplementedError

    def size_info(self) -> dict:
        return {}


def _scan(df, *cols):
    return lambda: df.select(*cols) if cols else df


def _rows(pdf: pd.DataFrame, cols) -> list:
    """Rows as tuples of plain Python values, so their repr is stable."""
    return [tuple(v.item() if hasattr(v, "item") else v for v in row)
            for row in pdf[list(cols)].itertuples(index=False, name=None)]


def _close(a, b, rel=1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _compare_keyed(got: pd.DataFrame, want: pd.DataFrame, keys, exact=(), approx=()) -> list[str]:
    """Compare every row of ``got`` with ``want`` (indexed by ``keys``)."""
    errs = []
    if len(got) != len(want):
        errs.append(f"rows {len(got)} != expected {len(want)}")
    g = got.set_index(list(keys))
    for key, row in g.iterrows():
        if key not in want.index:
            errs.append(f"unexpected key {key}")
            continue
        exp = want.loc[key]
        for c, wc in exact:
            if row[c] != exp[wc]:
                errs.append(f"{key} {c}={row[c]} expected {exp[wc]}")
        for c, wc in approx:
            if not _close(float(row[c]), float(exp[wc])):
                errs.append(f"{key} {c}={row[c]} expected {exp[wc]}")
        if len(errs) > 5:
            break
    return errs


# --- raster ------------------------------------------------------------------

class Raster(Workload):
    """A cached ``synth.images_df(..., "m")`` table (64/256 px mix, 80 %
    Delhi-clustered). Most operations aggregate inside or right after the
    decode -> affine -> reproject -> cell-keying spine, so their output is
    O(tiles) or O(images); the sinks use the same extraction the other way
    round, sending every valid pixel of the first ``n_export`` images
    across Arrow into the JVM and out to disk."""

    name = "raster"
    n_images = 16
    n_export = 2  # the sinks write the first n_export images of the table
    parts = 4  # one wave of Python tasks on 4 cores

    def build_inputs(self):
        self.images = self.cache(inputs.images_df(self.spark, self.seed, self.n_images, self.parts))
        self.export = self.cache(self.images.filter(F.col("image_id") < self.export_end()).coalesce(self.parts))
        self._ref = None

    def export_end(self) -> str:
        """First image id past the exported ones (ids are zero-padded)."""
        return f"img_{inputs.image_offset(self.seed) + self.n_export:08d}"

    def scan(self):
        return _scan(self.images, "image_id", "bytes", "w", "h", "fmt", "transform", "crs", "band_count")

    def points(self, images=None):
        return self.m.extract.extract_points(self.images if images is None else images, valid_only=True)

    def ref_points(self) -> pd.DataFrame:
        if self._ref is None:
            self._ref = reference.raster_points(self.images.toPandas())
        return self._ref

    def size_info(self) -> dict:
        r = self.images.selectExpr("count(*) AS n", "sum(w * h * band_count) AS px").collect()[0]
        return {"images": int(r["n"]), "pixels": int(r["px"])}

    def valid_points(self) -> int:
        """Points one export operation writes."""
        ids = set(self.export.select("image_id").toPandas().image_id)
        return int(self.ref_points().image_id.isin(ids).sum())

    def ops(self):
        m = self.m

        def csv():
            path = self.fresh_dir()
            m.sinks.write_csv_per_image(self.points(self.export), path)
            return path

        src = Step("sources", self.scan())
        ext = Step("extract", self.points)
        ex_src, ex_ext = self.export_steps()
        return [
            Op("tile_fold", [src, Step("extract.fused",
                                       lambda: m.extract.extract_tile_partials(self.images, TILE_LEVEL))],
               ("tile_id", "n_points", "min_z", "max_z")),
            Op("zonal_fused", [src, Step("zonal.fused",
                                         lambda: m.zonal.zonal_stats_fused(self.images, [DELHI], "delhi"))],
               ("image_id", "band", "count", "min", "max")),
            # tile_histogram assigns the tiles itself (tiling.assign_tiles)
            Op("tile_histogram", [src, ext, Step("tiling",
                                                 lambda: m.tiling.tile_histogram(self.points(), TILE_LEVEL))],
               ("tile_id", "n_points", "n_images")),
            Op("csv", [ex_src, ex_ext, Step("sinks.csv", csv)]),
        ]

    def probes(self):
        """Operations left out of the passes to keep a run short on this
        host (the geojson and compressed sinks format and gzip per image
        in Python); the traced run runs and checks each once."""
        m = self.m
        src, ext = Step("sources", self.scan()), Step("extract", self.points)

        def geojson():
            path = self.fresh_dir()
            m.sinks.write_geojson_per_image(self.points(self.export), self.export, path)
            return path

        def compressed():
            path = self.fresh_dir()
            os.makedirs(path)
            return m.sinks.write_compressed_outputs(self.export, path)

        ex_src, ex_ext = self.export_steps()
        return [
            Op("zonal_points", [src, ext, Step("zonal.clip",
                                               lambda: m.zonal.zonal_stats(self.points(), [DELHI], "delhi"))],
               ("image_id", "band", "count", "min", "max")),
            Op("geojson", [ex_src, ex_ext, Step("sinks.geojson", geojson)]),
            Op("compressed", [ex_src, Step("sinks.compressed", compressed)], ("image_id", "format", "n_points")),
        ]

    def export_steps(self):
        return (Step("sources", _scan(self.export, "image_id", "bytes", "w", "h", "fmt", "transform", "crs",
                                      "band_count")),
                Step("extract", lambda: self.points(self.export)))

    def check(self, op, out):
        pts = self.ref_points()
        if op.name in ("tile_fold", "tile_histogram"):
            want = reference.tile_fold(pts, TILE_LEVEL)
            if op.name == "tile_fold":
                return _compare_keyed(out, want, ["tile_id"],
                                      exact=[("n_points", "n_points"), ("min_z", "min_z"), ("max_z", "max_z")],
                                      approx=[("sum_z", "sum_z")])
            return _compare_keyed(out, want, ["tile_id"],
                                  exact=[("n_points", "n_points"), ("n_images", "n_images")])
        if op.name in ("zonal_fused", "zonal_points"):
            want = reference.zonal(pts, [DELHI])
            return _compare_keyed(out, want, ["image_id", "band"],
                                  exact=[("count", "count"), ("min", "min"), ("max", "max")],
                                  approx=[("mean", "mean")])
        if op.name == "compressed":
            errs = []
            if len(out) != 5 * self.n_export:
                errs.append(f"manifest rows {len(out)} != {5 * self.n_export}")
            for r in out.itertuples(index=False):
                if not os.path.isfile(r.path) or os.path.getsize(r.path) != r.n_bytes:
                    errs.append(f"{os.path.basename(r.path)}: size on disk differs from manifest")
                    break
            return errs
        return self.check_written(op.name, out, pts)

    def check_written(self, kind: str, path: str, pts: pd.DataFrame) -> list[str]:
        """Points per image in a csv or geojson sink directory, plus one
        seeded csv row per image looked up among the valid pixels."""
        errs, written = [], {}
        rng = np.random.default_rng(self.seed)
        for entry in sorted(os.listdir(path)):
            if not entry.startswith("image_id="):
                continue
            image_id = entry.split("=", 1)[1]
            body = []
            for fn in sorted(os.listdir(os.path.join(path, entry))):
                if not fn.startswith("."):
                    with open(os.path.join(path, entry, fn)) as f:
                        body.append(f.read())
            if kind == "csv":
                rows = [ln for txt in body for ln in txt.splitlines()[1:] if ln]
                written[image_id] = len(rows)
                if rows:
                    lon, lat, z = (float(v) for v in rows[int(rng.integers(0, len(rows)))].split(","))
                    sel = pts[(pts.image_id == image_id) & (np.abs(pts.lon - lon) < 5e-7)
                              & (np.abs(pts.lat - lat) < 5e-7) & (np.abs(pts.z - z) < 5e-7)]
                    if sel.empty:
                        errs.append(f"{image_id}: csv row ({lon},{lat},{z}) is not a valid pixel")
            else:
                written[image_id] = len(json.loads("".join(body))["features"])
        want = pts.groupby("image_id").size()
        want = {k: int(v) for k, v in want.items() if k < self.export_end()}
        if written != want:
            errs.append(f"points per image differ: {sum(written.values())} written, {sum(want.values())} valid")
        return errs


# --- vector ------------------------------------------------------------------

class Vector(Workload):
    """Lineitem-shaped points against the seven ``synth.polygons()`` and
    seeded kNN queries: cell keying, the joins and the shuffle, no raster
    decode. The probes add documents and embeddings (block-grid kernels,
    Python worker memory, many small driver-issued jobs)."""

    name = "vector"
    n_points = 30_000
    n_queries = 100
    n_docs = 400
    n_vec = 500
    ZONAL_RINGS = rings_of("poly_0005")  # box with a hole: a two-ring polygon
    IVF_RECALL_FLOOR = 0.6

    def build_inputs(self):
        spark = self.spark
        self.pts_pdf = inputs.points_pdf(self.seed, self.n_points)
        self.q_pdf = inputs.knn_queries_pdf(self.seed, self.n_queries)
        self.docs_pdf = inputs.documents_pdf(self.seed, self.n_docs)
        self.emb_pdf = inputs.embeddings_pdf(self.seed, self.n_vec)
        self.pts = self.cache(spark.createDataFrame(self.pts_pdf).filter("valid"))
        self.queries = self.cache(spark.createDataFrame(self.q_pdf))
        self.polys = self.cache(synth.polygons_df(spark))
        self._truth = None

    def build_probe_inputs(self):
        spark = self.spark
        self.docs = self.cache(spark.createDataFrame(self.docs_pdf))
        self.emb = self.cache(spark.createDataFrame(
            self.emb_pdf, "vec_id long, embedding array<float>, label int").select("vec_id", "embedding"))

    def as_points_schema(self):
        return self.pts.select(
            F.col("image_id").cast("string").alias("image_id"), F.lit(0).alias("band"),
            F.col("point_id").alias("pixel_idx"), F.col("lon").alias("longitude"),
            F.col("lat").alias("latitude"), F.col("z").alias("elevation"),
        )

    def image_boxes(self):
        return self.pts.groupBy("image_id").agg(
            F.min("lon").alias("min_lon"), F.max("lon").alias("max_lon"),
            F.min("lat").alias("min_lat"), F.max("lat").alias("max_lat"),
        )

    def knn(self):
        pts = self.pts.select(F.col("point_id").alias("pixel_idx"), "lon", "lat")
        return self.m.joins.knn_join(pts, self.queries, k=3, level=14, max_ring=2,
                                     point_cols=("lon", "lat"), query_cols=("qlon", "qlat"))

    def cell_cover(self):
        joined = self.m.joins.cell_cover_join(self.pts, self.polys, lon_col="lon", lat_col="lat")
        return joined.groupBy("polygon_id").agg(F.count("*").alias("n"), F.sum("z").alias("sum_z"))

    def minhash(self):
        return self.m.dedup.minhash_lsh_pairs(self.docs, n=5, threshold_e6=500_000)

    def ops(self):
        pts = Step("sources", _scan(self.pts))
        return [
            Op("knn", [pts, Step("joins.knn", self.knn)], ("query_id", "pixel_idx", "knn_rank", "dist2")),
            Op("cell_cover", [pts, Step("joins.cell_cover", self.cell_cover)], ("polygon_id", "n", "sum_z")),
        ]

    def probes(self):
        """Operations left out of the passes to keep a run short on this
        host (the dedup and similarity operators issue many small driver
        jobs each); the traced run runs and checks each once."""
        m = self.m
        pts, docs, emb = (Step("sources", _scan(df)) for df in (self.pts, self.docs, self.emb))
        return [
            Op("bbox", [pts, Step("joins.bbox", lambda: m.joins.bbox_join(self.image_boxes(), self.polys))],
               ("image_id", "polygon_id")),
            Op("zonal_rings", [pts, Step("zonal.clip", lambda: m.zonal.zonal_stats(
                self.as_points_schema(), self.ZONAL_RINGS, "hole"))], ("image_id", "count", "min", "max")),
            Op("jaccard", [docs, Step("dedup.jaccard", lambda: m.dedup.jaccard_pairs(
                self.docs, n=4, threshold_e6=300_000, block_col="source"))],
               ("doc_a", "doc_b", "n_inter", "n_union", "jaccard_e6")),
            Op("brute_topk", [emb, Step("similarity.brute_topk", lambda: m.similarity.brute_topk(self.emb, k=5))],
               ("query_id", "neighbor_id", "dot_q", "cos_e6", "rank")),
            Op("cosine_pairs", [emb, Step("similarity.cosine_pairs", lambda: m.similarity.cosine_pairs(
                self.emb, threshold_e6=950_000, mode="auto"))], ("id_a", "id_b", "dot_q", "cos_e6")),
            Op("minhash_cc", [docs, Step("dedup.minhash", self.minhash),
                              Step("dedup.cc", lambda: m.dedup.connected_components(self.minhash()))]),
            Op("ivf_topk", [emb, Step("similarity.ivf", lambda: m.similarity.ivf_topk(
                self.emb, k=5, n_centroids=16, train="distributed", kmeans_iters=2))]),
        ]

    def valid_pdf(self):
        return self.pts_pdf[self.pts_pdf.valid].reset_index(drop=True)

    def truth(self):
        if self._truth is None:
            q = reference.quantized(self.emb_pdf)
            self._truth = (q, reference.brute_topk(q, self.emb_pdf.vec_id.to_numpy(), 5))
        return self._truth

    def ivf_recall(self, out) -> float:
        _, truth = self.truth()
        got = set(zip(out.query_id.astype(int), out.neighbor_id.astype(int)))
        want = {(qid, n) for qid, ns in truth.items() for n in ns}
        return len(got & want) / len(want)

    def check(self, op, out):
        return getattr(self, f"check_{op.name}")(out)

    def check_knn(self, out):
        pts, errs = self.valid_pdf(), []
        if len(out) != 3 * self.n_queries:
            errs.append(f"knn rows {len(out)} != {3 * self.n_queries}")
        rng = np.random.default_rng(self.seed)
        for i in rng.choice(self.n_queries, 10, replace=False):
            q = self.q_pdf.iloc[int(i)]
            want = reference.knn(pts, q.qlon, q.qlat, 3)
            got = out[out.query_id == q.query_id].sort_values("knn_rank").pixel_idx.tolist()
            if got != want:
                errs.append(f"{q.query_id}: {got} != {want}")
        return errs

    def check_cell_cover(self, out):
        pts, want = self.valid_pdf().assign(band=0), {}
        for p in synth.polygons():
            z = reference.zonal(pts, p["rings"], keys=("band",))
            if len(z):
                want[p["polygon_id"]] = int(z["count"].iloc[0])
        got = dict(zip(out.polygon_id, out.n.astype(int)))
        return [] if got == want else [f"per-polygon counts {got} != {want}"]

    def check_zonal_rings(self, out):
        pts = self.valid_pdf()
        want = reference.zonal(pts.assign(image_id=pts.image_id.astype(str)), self.ZONAL_RINGS, keys=("image_id",))
        return _compare_keyed(out, want, ["image_id"], exact=[("count", "count"), ("min", "min"), ("max", "max")],
                              approx=[("mean", "mean")])

    def check_bbox(self, out):
        boxes = self.valid_pdf().groupby("image_id").agg(
            min_lon=("lon", "min"), max_lon=("lon", "max"), min_lat=("lat", "min"), max_lat=("lat", "max"))
        want = set()
        for p in synth.polygons():
            shell = np.asarray(p["rings"][0])
            lo, hi = shell.min(axis=0), shell.max(axis=0)
            hit = ((boxes.min_lon <= hi[0]) & (boxes.max_lon >= lo[0])
                   & (boxes.min_lat <= hi[1]) & (boxes.max_lat >= lo[1]))
            want |= {(int(i), p["polygon_id"]) for i in boxes.index[hit]}
        got = set(zip(out.image_id.astype(int), out.polygon_id))
        return [] if got == want else [f"bbox pairs: {len(got)} vs expected {len(want)}"]

    def check_jaccard(self, out):
        docs, errs = self.docs_pdf, []
        sets = [reference.shingles(t, 4) for t in docs.text]
        for r in out.itertuples(index=False):
            j = reference.jaccard_e6(sets[r.doc_a], sets[r.doc_b])
            if j != r.jaccard_e6 or j < 300_000:
                errs.append(f"pair ({r.doc_a},{r.doc_b}) jaccard_e6 {r.jaccard_e6} != {j}")
                break
        found = set(zip(out.doc_a, out.doc_b))
        rng = np.random.default_rng(self.seed)
        src = docs.source.to_numpy()
        for _ in range(2000):  # recall spot-check on random pairs
            a, b = sorted(rng.choice(len(docs), 2, replace=False))
            if src[a] == src[b] and reference.jaccard_e6(sets[a], sets[b]) >= 300_000 and (a, b) not in found:
                errs.append(f"missed pair ({a},{b})")
                break
        return errs

    def check_minhash_cc(self, out):
        sets = [reference.shingles(t, 5) for t in self.docs_pdf.text]
        pairs = self.minhash().select("doc_a", "doc_b").toPandas()
        want = reference.components(zip(pairs.doc_a, pairs.doc_b))
        got = dict(zip(out.id.astype(int), out.component.astype(int)))
        errs = [] if got == want else ["components differ from union-find over the pairs"]
        low = sum(reference.jaccard_e6(sets[a], sets[b]) < 500_000 for a, b in zip(pairs.doc_a, pairs.doc_b))
        return errs + ([f"{low} minhash pairs below threshold"] if low else [])

    def check_cosine_pairs(self, out):
        q, _ = self.truth()
        a, b = out.id_a.to_numpy(), out.id_b.to_numpy()
        errs = []
        if len(out) and not np.array_equal(reference.cos_e6(q, a, b), out.cos_e6.to_numpy()):
            errs.append("cos_e6 differs from numpy")
        if (out.cos_e6 < 950_000).any():
            errs.append("pair below threshold")
        planted = self.n_vec - inputs.N_PLANTED
        if (a >= planted).sum() + (b >= planted).sum() < inputs.N_PLANTED:
            errs.append("planted near-duplicates missing")
        return errs

    def check_brute_topk(self, out):
        _, truth = self.truth()
        got = {int(k): g.sort_values("rank").neighbor_id.astype(int).tolist() for k, g in out.groupby("query_id")}
        return [] if got == truth else ["top-5 lists differ from numpy"]

    def check_ivf_topk(self, out):
        recall = self.ivf_recall(out)
        return [] if recall >= self.IVF_RECALL_FLOOR else [f"ivf recall@5 {recall:.3f} < {self.IVF_RECALL_FLOOR}"]


WORKLOADS = {w.name: w for w in (Raster, Vector)}


def digest(op: Op, out) -> dict | None:
    if not op.digest_cols or not isinstance(out, pd.DataFrame):
        return None
    return {"rows": len(out), "digest": row_digest(_rows(out, op.digest_cols))}
