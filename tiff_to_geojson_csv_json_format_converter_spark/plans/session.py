"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target and
merely *also* works on local[N]:

- AQE on (runtime coalescing + skew-join splitting for the dense-tile
  skew the synthetic layout deliberately contains)
- Arrow on, large batches (the decode UDFs move pixels JVM<->Python in
  few large Arrow batches, not rows)
- zstd parquet, 128 MB target file partitions
- Python workers fork from :mod:`.pydaemon` (``spark.python.daemon.module``):
  each Python task's setup calls ``importlib.invalidate_caches()``, which
  before CPython 3.13 re-reads ``pyspark.zip``'s whole directory once per
  zip importer, per task; the daemon backports 3.13's lazy invalidation
  (re-read on the next lookup only). Unchanged: on Python >= 3.13 it
  patches nothing, and files shipped with ``addPyFile`` are still
  invalidated, so ones added after the first task import in later ones.
  The package root joins the workers' ``PYTHONPATH`` (merged with a
  caller's ``spark.executorEnv.PYTHONPATH``) so the daemon module imports
  from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(
    app_name: str = "tiff2geo-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # glibc: serve large allocations from the brk heap and never trim it
    # back. numpy routes big-array mallocs through mmap by default, and
    # every mmap/munmap cycle re-faults the pages on first touch; on
    # lazy-paging hosts (firecracker-style microVMs, also some
    # overcommitted cloud nodes) that costs ~75us/page — measured here
    # as a 40x slowdown (2 GB fresh-out multiply: 40 s vs 1 s into a
    # reused buffer). Keeping the heap means a worker's second task
    # reuses already-faulted pages. Must be set BEFORE the JVM forks the
    # python worker daemons; respects pre-set values.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(2 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(2 << 30))
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # JVM<->Python pipelining: cap batches by BYTES, not just records.
        # Image rows are ~0.1-1 MB; the 64 MB default turns a whole input
        # partition into one batch, serializing producer and consumer
        # (measured 5-10x wall-clock loss on 16-32 cores). 4 MB keeps
        # ~30 image rows or ~90k point rows per batch — streaming overlap
        # for both row shapes.
        "spark.sql.execution.arrow.maxBytesPerBatch": "4m",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": __package__ + ".pydaemon",
    }
    if extra_conf:
        conf.update(extra_conf)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
