"""Run one benchmark workload in a closed loop and print its metrics.

    python3 perfbench/run.py --workload raster --seed 1 --seconds 8 --trace 0

One client (this process) issues the workload's operations back to back
on ``local[<nproc>]``. With ``--trace 0`` it reports the end-to-end
metrics; with ``--trace 1`` it also runs every operation's prefixes as
their own actions, records spans around each call into the program's
modules, reads Spark's event log and job groups, and reports the
per-layer metrics. The last line of standard output is one JSON object.
Per-operation records are flushed as each operation completes to
``.perfbench/<run>/records.jsonl``; the traced run also writes its spans
and per-operation breakdown to ``.perfbench/<run>/trace.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the program under test: without it there is nothing to measure, and
# the import error ends the run before any result is printed
from pyspark.sql import DataFrame  # noqa: E402

from tiff_to_geojson_csv_json_format_converter_spark.functions import affine, cells, geometry, projection  # noqa: E402
from tiff_to_geojson_csv_json_format_converter_spark.operators import (  # noqa: E402
    dedup, extract, joins, similarity, sinks, tiling, zonal,
)
from tiff_to_geojson_csv_json_format_converter_spark.plans.session import get_spark  # noqa: E402
from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs, synth  # noqa: E402

from perfbench import eventlog, kernels  # noqa: E402
from perfbench.measure import (  # noqa: E402
    RssSampler, TracedModule, Tracer, cpu_ticks, descendants, geomean, loadavg, median, nproc, steal_share, tree_cpu_s,
)
from perfbench.workloads import WORKLOADS, digest  # noqa: E402

DEFAULT_SEED = 1
SETUP_ROUNDS = 3
# untimed noop passes after the checked pass and outside set-up: the
# first executions of a plan run while the JIT is compiling most of it
WARM_PASSES = 1
# the timed window goes on until --seconds have passed and at least this
# many passes are done, so each pass metric is a median over several
MIN_PASSES = 3
# the traced run skips the probes it has not started by then, so that it
# ends well inside the 180 s a run may take even on a contended host
PROBE_DEADLINE_S = 120
DIGESTS = os.path.join(ROOT, "perfbench", "digests.json")
MODULES = {
    "extract": (extract, "extract"), "tiling": (tiling, "tiling"), "zonal": (zonal, "zonal"),
    "sinks": (sinks, "sinks"), "joins": (joins, "joins"), "similarity": (similarity, "similarity"),
    "dedup": (dedup, "dedup"), "synth": (synth, "sources"), "codecs": (codecs, "sources"),
    "affine": (affine, "functions"), "projection": (projection, "functions"),
    "cells": (cells, "functions"), "geometry": (geometry, "functions"),
}


class Mods:
    """The program's modules as the workloads call them: plain, or with
    every public function call recorded as a span."""

    def __init__(self, tracer: Tracer | None = None):
        for attr, (mod, layer) in MODULES.items():
            setattr(self, attr, TracedModule(mod, layer, tracer) if tracer else mod)


def execute(target):
    """Run one step's action. DataFrames go to the noop writer, which
    computes every column of the plan a user would run and keeps nothing."""
    if isinstance(target, DataFrame):
        target.write.format("noop").mode("overwrite").save()


def collect(target):
    return target.toPandas() if isinstance(target, DataFrame) else target


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if not n.startswith(".") and not n.startswith("_"):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


class Runner:
    def __init__(self, args):
        self.args = args
        self.run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.out_dir = os.path.join(self.run_dir, "out")
        os.makedirs(self.out_dir)
        self.records = open(os.path.join(self.run_dir, "records.jsonl"), "w")
        self.cores = nproc()
        self.attempted = self.failed = 0
        self.failures: list[dict] = []
        self.digests: dict = {}
        self.outputs: dict = {}
        self.session_stopped = False
        self.stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": self.cores, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": loadavg(),
        }
        self.ticks_start = cpu_ticks()
        self.record({"event": "start", **self.stamp})

    def record(self, rec: dict):
        self.records.write(json.dumps(rec) + "\n")
        self.records.flush()

    # --- session ------------------------------------------------------------
    def start_session(self):
        local = os.path.join(self.run_dir, "spark-local")
        os.makedirs(local)
        # keep every temporary file of Python, PySpark and the JVMs inside the run directory
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tempfile.tempdir = local
        # compiler threads that stay alive, so their CPU can be told apart
        # from the program's (an exited thread's time folds into its process)
        os.environ["_JAVA_OPTIONS"] = (f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                                       f"-Djava.io.tmpdir={local}")
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", master=f"local[{self.cores}]",
                               shuffle_partitions=2 * self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jvm_proc = getattr(self.sc._gateway, "proc", None)

    def stop_session(self):
        """Stop Spark, then the JVM, and wait until every process this
        run started has ended."""
        self.session_stopped = True
        if not hasattr(self, "spark"):  # the session never started
            return
        self.spark.stop()
        if self.jvm_proc is not None:
            try:
                self.jvm_proc.stdin.close()
            except OSError:
                pass
            try:
                self.jvm_proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm_proc.kill()
                self.jvm_proc.wait(timeout=10)
        deadline = time.time() + 20
        while time.time() < deadline:
            left = descendants(os.getpid())
            if not left:
                break
            for pid in left:
                try:
                    os.kill(pid, 15)
                except OSError:
                    pass
            time.sleep(0.2)

    # --- operations ---------------------------------------------------------
    def guarded(self, op_name: str, fn, timed: bool = True):
        """Run one operation; an exception or a dead worker counts as a
        failure and the run goes on. Returns (wall seconds, result or None)."""
        if timed:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
            wall = time.perf_counter() - t0
            return wall, result
        except Exception as e:  # the loop must survive any one operation
            wall = time.perf_counter() - t0
            if timed:
                self.failed += 1
            fail = {"op": op_name, "error": f"{type(e).__name__}: {str(e)[:400]}"}
            self.failures.append(fail)
            self.record({"event": "failure", **fail, "traceback": traceback.format_exc()[-2000:]})
            return wall, None

    def run_step(self, step):
        target = step.run()
        execute(target)
        return target

    def clean_out(self):
        for name in os.listdir(self.out_dir):
            shutil.rmtree(os.path.join(self.out_dir, name), ignore_errors=True)

    def plain_pass(self, wl, pass_no: int, tag: str) -> dict[str, tuple[float, float, float]]:
        """One pass of the timed actions. Returns, per operation, its wall,
        the CPU seconds the process tree spent on it outside the JIT
        compiler threads, and those the compiler threads spent (the CPU
        is read outside the operation's wall)."""
        out = {}
        for op in wl.ops():
            cpu0, jit0 = tree_cpu_s()
            wall, res = self.guarded(op.name, lambda: self.run_step(op.steps[-1]))
            cpu1, jit1 = tree_cpu_s()
            cpu = (cpu1 - cpu0) - (jit1 - jit0)
            self.record({"event": "op", "pass": tag, "n": pass_no, "op": op.name, "wall_s": wall,
                         "cpu_s": cpu, "jit_s": jit1 - jit0, "ok": res is not None})
            out[op.name] = (wall, cpu, jit1 - jit0)
            self.clean_out()
        return out

    # --- set-up and checks -------------------------------------------------
    def setup(self):
        """Session start, the median of SETUP_ROUNDS input builds and one
        pass that collects and checks every operation's output (only its
        Spark time counts as set-up). Then, in an untraced run,
        WARM_PASSES untimed passes of the timed (noop) actions, which
        count toward no metric."""
        self.start_session()
        self.session_s = time.perf_counter() - T_PROCESS
        self.wl = WORKLOADS[self.args.workload](self.spark, self.args.seed, Mods(), self.out_dir)
        builds = []
        for i in range(SETUP_ROUNDS):
            if i:
                self.wl.drop_inputs()
            t0 = time.perf_counter()
            self.wl.build_inputs()
            builds.append(time.perf_counter() - t0)
        self.gen_s = median(builds)
        self.check_s = 0.0
        for op in self.wl.ops():
            self.check_s += self.check_op(op)
            self.clean_out()
        self.setup_s = self.session_s + self.gen_s + self.check_s
        # the traced run compares traced and untraced passes of one window
        # with each other, so it needs no warm-up of its own
        warm = [] if self.args.trace else [sum(w for w, _, _ in self.plain_pass(self.wl, n, "warm").values())
                                           for n in range(1, WARM_PASSES + 1)]
        self.record({"event": "setup", "session_s": self.session_s, "input_builds_s": builds,
                     "checked_pass_s": self.check_s, "setup_s": self.setup_s, "warm_passes_s": warm})

    def stored_digests(self) -> dict:
        if not os.path.exists(DIGESTS):
            return {}
        with open(DIGESTS) as f:
            return json.load(f)

    def check_op(self, op, run=None) -> float:
        """Run one operation collecting its output (``run`` overrides how),
        then compare the output with numpy (every seed) and with the
        stored digest (the default seed). Returns the wall of the Spark
        part; the check itself runs outside every timed window."""
        wall, out = self.guarded(op.name, run or (lambda: collect(op.steps[-1].run())), timed=False)
        self.attempted += 1
        if out is None:
            self.failed += 1
            return wall
        try:
            errs = self.wl.check(op, out)
        except Exception as e:  # a crash in the check is a failed check
            errs = [f"check raised {type(e).__name__}: {e}"]
        d = digest(op, out)
        if d is not None:
            self.digests[op.name] = d
            want = self.stored_digests().get(self.args.workload, {}).get(op.name)
            if self.args.seed == DEFAULT_SEED and want and want != d and not self.args.record_digests:
                errs.append(f"digest {d} != stored {want}")
        self.outputs[op.name] = out
        if errs:
            self.failed += 1
            fail = {"op": op.name, "error": "output mismatch: " + "; ".join(errs[:5])}
            self.failures.append(fail)
            self.record({"event": "failure", **fail})
        else:
            self.record({"event": "checked", "op": op.name, "wall_s": wall})
        return wall

    def save_digests(self):
        if not (self.args.record_digests and self.args.seed == DEFAULT_SEED):
            return
        stored = self.stored_digests()
        stored.setdefault(self.args.workload, {}).update(self.digests)
        with open(DIGESTS, "w") as f:
            json.dump(stored, f, indent=1, sort_keys=True)
            f.write("\n")

    # --- untraced run -------------------------------------------------------
    def measure_plain(self) -> dict:
        walls, cpus, op_walls, op_cpus = [], [], {}, {}
        t_end = time.perf_counter() + self.args.seconds
        n = 0
        while n < MIN_PASSES or time.perf_counter() < t_end:
            n += 1
            ops = self.plain_pass(self.wl, n, "timed")
            # sink clean-up between operations is in neither sum
            walls.append(sum(w for w, _, _ in ops.values()))
            cpus.append(sum(c for _, c, _ in ops.values()))
            for k, (w, c, _) in ops.items():
                op_walls.setdefault(k, []).append(w)
                op_cpus.setdefault(k, []).append(c)
        self.passes = walls
        self.wall = {"pass_s": median(walls), "op_geomean_s": geomean(median(v) for v in op_walls.values())}
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_cpu_s": (median(cpus), "s"),
            "op_cpu_geomean_s": (geomean(median(v) for v in op_cpus.values()), "s"),
        }

    # --- traced run ---------------------------------------------------------
    def group_plan(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def trace_op(self, tracer: Tracer, op, n) -> dict:
        """One operation, traced: each prefix as its own action under its
        own job group, then the whole operation. A layer's self time is
        the wall of its prefix minus the wall of the prefix before it."""
        rec = {"prefix_s": {}, "groups": {}, "plans": {}}
        with tracer.span(f"op:{op.name}", op_id=f"{n}:{op.name}"):
            for i, step in enumerate(op.steps):
                last = i == len(op.steps) - 1
                group = f"{'op' if last else 'pre'}:{n}:{op.name}:{step.label}"
                self.sc.setJobGroup(group, group)
                probe_check = last and n == "probe"
                with tracer.span("op" if last else f"prefix:{step.label}", label=step.label):
                    def action(step=step):
                        with tracer.span("action"):
                            return collect(step.run()) if probe_check else self.run_step(step)
                    if probe_check:
                        wall = self.check_op(op, action)
                    else:
                        wall, res = self.guarded(op.name, action, timed=last)
                rec["prefix_s"][step.label] = wall
                rec["groups"][step.label] = group
                rec["plans"][step.label] = self.group_plan(group)
                if step.label.startswith("sinks."):
                    rec["files"], rec["bytes"] = dir_stats(self.out_dir)
                self.clean_out()
        labels = [s.label for s in op.steps]
        rec["self_s"] = {
            cur: max(rec["prefix_s"][cur] - (rec["prefix_s"][prev] if prev else 0.0), 0.0)
            for prev, cur in zip([None] + labels[:-1], labels)
        }
        rec["wall_s"] = rec["prefix_s"][labels[-1]]
        self.record({"event": "traced_op", "n": n, "op": op.name, **rec})
        return rec

    def traced_pass(self, tracer: Tracer, n: int) -> dict:
        self.wl.m = Mods(tracer)
        recs = {op.name: self.trace_op(tracer, op, n) for op in self.wl.ops()}
        self.wl.m = Mods()
        return recs

    def measure_traced(self) -> dict:
        tracer = Tracer()
        sampler = RssSampler().start()
        sampler.active = True
        plain, plain_jit, traced, recs, plain_ops = [], [], [], [], {}
        t_end = time.perf_counter() + self.args.seconds
        n = 0
        while n < 1 or time.perf_counter() < t_end:
            n += 1
            self.sc.setJobGroup("plain", "untraced passes")
            ops = self.plain_pass(self.wl, n, "plain")
            plain.append(sum(w for w, _, _ in ops.values()))
            plain_jit.append(sum(j for _, _, j in ops.values()))
            for k, (w, _, _) in ops.items():
                plain_ops.setdefault(k, []).append(w)
            rec = self.traced_pass(tracer, n)
            traced.append(sum(r["wall_s"] for r in rec.values()))
            recs.append(rec)
        sampler.active = False
        sampler.close()
        self.wall = {"pass_s": median(plain), "op_geomean_s": geomean(median(v) for v in plain_ops.values())}
        self.jit_s = median(plain_jit)
        self.wl.build_probe_inputs()
        self.wl.m = Mods(tracer)
        probes = {}
        for op in self.wl.probes():
            if time.perf_counter() - T_PROCESS > PROBE_DEADLINE_S:
                self.record({"event": "probe_skipped", "op": op.name})
                continue
            probes[op.name] = self.trace_op(tracer, op, "probe")
        self.wl.m = Mods()
        extra = self.layer_extras()
        kern = kernels.kernel_metrics(self.args.seed)
        cache_mb = sum(r.memSize() for r in self.sc._jsc.sc().getRDDStorageInfo()) / 2**20
        self.stop_session()
        logs = [os.path.join(self.eventlog_dir, f) for f in os.listdir(self.eventlog_dir)]
        counters = {}
        for path in logs:
            counters.update(eventlog.parse_file(path))
        metrics = self.per_layer(recs, probes, counters, plain, traced, extra, kern, cache_mb, sampler)
        with open(os.path.join(self.run_dir, "trace.json"), "w") as f:
            json.dump({"stamp": self.stamp, "spans": tracer.to_json(), "ops": recs, "probes": probes,
                       "counters": counters, "metrics": metrics}, f)
        return metrics

    def layer_extras(self) -> dict:
        """Counts that need their own job, taken outside every timed window."""
        wl, out = self.wl, {"size": self.wl.size_info()}
        if wl.name == "raster":
            out["export_points"] = wl.valid_points()
        if wl.name == "vector":
            cand, _, _ = joins.cell_cover_candidates(wl.pts, wl.polys, lon_col="lon", lat_col="lat")
            out["cell_cover_candidates"] = cand.count()
        return out

    def per_layer(self, recs, probes, counters, plain, traced, extra, kern, cache_mb, sampler) -> dict:
        wl, outputs = self.wl, self.outputs

        def self_s(label: str) -> float:
            vals = [sum(r[op]["self_s"].get(label, 0.0) for op in r) for r in recs]
            return median(vals) + sum(p["self_s"].get(label, 0.0) for p in probes.values())

        def last(op: str, label: str) -> dict:
            """Event-log counters of one step in the last traced pass."""
            rec = recs[-1].get(op) or probes.get(op)
            return counters.get(rec["groups"][label], eventlog.new_counters()) if rec else eventlog.new_counters()

        ops = list(recs[-1])
        final = {op: list(recs[-1][op]["groups"])[-1] for op in ops}  # label of the whole operation
        full = [last(op, final[op]) for op in ops]
        wall_sum = sum(recs[-1][op]["wall_s"] for op in ops)
        run_s = sum(c["executor_run_s"] for c in full)
        size = extra.get("size", {})
        extract_ops = [op for op in ops if "extract" in recs[-1][op]["groups"]]
        ext = last(extract_ops[0], "extract") if extract_ops else eventlog.new_counters()
        extract_s = self_s("extract")
        # the extract step of tile_histogram reads the whole image table
        hist_extract_s = median(r["tile_histogram"]["self_s"]["extract"] for r in recs if "tile_histogram" in r)
        m = {
            **self.wall,
            "jvm.jit_cpu_s": self.jit_s,
            "session.start_s": self.session_s,
            "sources.gen_s": self.gen_s,
            "sources.cache_mb": cache_mb,
            **kern,
            "extract.s": extract_s,
            "extract.fused_s": self_s("extract.fused"),
            "extract.pixels_per_s": size.get("pixels", 0) / hist_extract_s if hist_extract_s else 0.0,
            "extract.rows_out": ext["py_rows_out"],
            "extract.py_bytes_in": ext["py_bytes_in"],
            "extract.py_bytes_out": ext["py_bytes_out"],
            "extract.py_run_s": ext["py_run_s"],
            "extract.py_start_s": ext["py_start_s"],
            "tiling.self_s": self_s("tiling"),
            "tiling.shuffle_bytes": last("tile_histogram", "tiling")["shuffle_write_bytes"],
            "zonal.fused_s": self_s("zonal.fused"),
            "zonal.clip_self_s": self_s("zonal.clip"),
            "zonal.images_per_s": size.get("images", 0) / probes["zonal_points"]["wall_s"] if "zonal_points" in probes else 0.0,
            "sinks.csv_s": self_s("sinks.csv"),
            "sinks.geojson_s": self_s("sinks.geojson"),
            "sinks.compressed_s": self_s("sinks.compressed"),
            "sinks.bytes_written": sum(r.get("bytes", 0) for r in (*recs[-1].values(), *probes.values())),
            "sinks.files_written": sum(r.get("files", 0) for r in (*recs[-1].values(), *probes.values())),
            "joins.knn_s": self_s("joins.knn"),
            "joins.knn_candidate_rows": last("knn", "joins.knn")["join_rows_max"],
            "joins.cell_cover_s": self_s("joins.cell_cover"),
            "joins.cell_cover_candidates": extra.get("cell_cover_candidates", 0),
            "joins.bbox_s": self_s("joins.bbox"),
            "similarity.brute_topk_s": self_s("similarity.brute_topk"),
            "similarity.cosine_pairs_s": self_s("similarity.cosine_pairs"),
            "similarity.ivf_s": self_s("similarity.ivf"),
            "dedup.jaccard_s": self_s("dedup.jaccard"),
            "dedup.minhash_s": self_s("dedup.minhash"),
            "dedup.cc_s": self_s("dedup.cc"),
            **{f"plans.{k}": sum(recs[-1][op]["plans"][final[op]][k] for op in ops)
               for k in ("jobs", "stages", "tasks")},
            "spark.shuffle_write_bytes": sum(c["shuffle_write_bytes"] for c in full),
            "spark.shuffle_read_bytes": sum(c["shuffle_read_bytes"] for c in full),
            "spark.spill_bytes": sum(c["spill_bytes"] for c in full),
            "spark.executor_cpu_s": sum(c["executor_cpu_s"] for c in full),
            "spark.gc_s": sum(c["gc_s"] for c in full),
            "spark.slot_idle_ratio": 1.0 - run_s / (wall_sum * self.cores) if wall_sum else 0.0,
            "rss.peak_mb": sampler.peak_total / 2**20,
            "rss.jvm_peak_mb": sampler.peak_jvm / 2**20,
            "rss.py_workers_peak_mb": sampler.peak_py / 2**20,
            "trace.overhead_s": median(traced) - median(plain),
            "trace.passes": len(recs),
        }
        # ratios of useful outcomes to attempts
        cc = outputs.get("cell_cover")
        cands = m["joins.cell_cover_candidates"]
        m["joins.cell_cover_hit_ratio"] = float(cc.n.sum()) / cands if cc is not None and cands else 0.0
        cos = outputs.get("cosine_pairs")
        scored = last("cosine_pairs", "similarity.cosine_pairs")["join_rows_max"] if cos is not None else 0
        m["similarity.pairs_scored"] = scored
        m["similarity.hit_ratio"] = len(cos) / scored if cos is not None and scored else 0.0
        ivf = outputs.get("ivf_topk")
        m["similarity.ivf_recall_at_5"] = wl.ivf_recall(ivf) if ivf is not None else 0.0
        jac = outputs.get("jaccard")
        jc = last("jaccard", "dedup.jaccard")["join_rows_max"] if jac is not None else 0
        m["dedup.jaccard_candidates"] = jc
        m["dedup.jaccard_hit_ratio"] = len(jac) / jc if jac is not None and jc else 0.0
        m["dedup.cc_jobs"] = probes["minhash_cc"]["plans"]["dedup.cc"]["jobs"] if "minhash_cc" in probes else 0
        pts = extra.get("export_points", 0)
        m["out_bytes_per_point"] = m["sinks.bytes_written"] / pts if pts else 0.0
        # per operation: layer self times must add up to the traced wall
        errs = []
        for r in recs:
            for op, rec in r.items():
                if rec["wall_s"] > 0:
                    errs.append(abs(sum(rec["self_s"].values()) - rec["wall_s"]) / rec["wall_s"])
        m["trace.self_sum_err"] = max(errs) if errs else 0.0
        return m


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store the default seed's output digests in perfbench/digests.json")
    args = ap.parse_args(argv)
    spec = load_benchmark_spec()
    runner = Runner(args)
    try:
        runner.setup()
        if args.trace:
            raw = runner.measure_traced()
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            metrics = {name: {"value": float(raw[name]), "unit": unit} for name, unit in names}
        else:
            raw = runner.measure_plain()
            metrics = {name: {"value": float(v), "unit": u} for name, (v, u) in raw.items()}
        runner.save_digests()
    finally:
        if not runner.session_stopped:
            runner.stop_session()
        runner.stamp["loadavg_end"] = loadavg()
        runner.stamp["cpu_steal_share"] = round(steal_share(runner.ticks_start, cpu_ticks()), 4)
        runner.record({"event": "end", "loadavg_end": runner.stamp["loadavg_end"],
                       "cpu_steal_share": runner.stamp["cpu_steal_share"],
                       "process_s": time.perf_counter() - T_PROCESS,
                       "attempted": runner.attempted, "failed": runner.failed})
        runner.records.close()
        shutil.rmtree(os.path.join(runner.run_dir, "spark-local"), ignore_errors=True)
        shutil.rmtree(runner.out_dir, ignore_errors=True)
    ratio = runner.failed / max(runner.attempted, 1)
    print(f"# {args.workload} seed={args.seed} nproc={runner.cores} "
          f"SPARK_GRAFT_CPUS={runner.stamp['SPARK_GRAFT_CPUS']} "
          f"loadavg {runner.stamp['loadavg_start']} -> {runner.stamp['loadavg_end']} "
          f"cpu_steal_share {runner.stamp['cpu_steal_share']}")
    if not args.trace:
        print(f"# median of {len(runner.passes)} passes; wall: pass_s {runner.wall['pass_s']:.4f} s, "
              f"op_geomean_s {runner.wall['op_geomean_s']:.4f} s")
    print(f"# ops_failed_ratio {ratio:.4f} ({runner.failed}/{runner.attempted})")
    for f in runner.failures[:10]:
        print(f"# FAILED {f['op']}: {f['error']}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
