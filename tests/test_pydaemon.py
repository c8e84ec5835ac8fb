"""The engine's Python worker daemon (plans/pydaemon.py): the lazy
zip-directory invalidation backport on its own (no Spark), then the
daemon as the ``get_spark`` session runs it."""

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from tiff_to_geojson_csv_json_format_converter_spark.plans import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, name, source, pad=""):
    with zipfile.ZipFile(path, "w") as z:
        if pad:  # a member ahead of the module moves its offset
            z.writestr("pad.py", pad)
        z.writestr(f"{name}.py", source)


@pytest.fixture
def backported(monkeypatch):
    """Install the backport for one test; the class is restored after."""
    monkeypatch.setattr(zipimport.zipimporter, "_files", None, raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert pydaemon.backport_lazy_zip_invalidation() == (sys.version_info < (3, 13))


@pytest.fixture
def zipped_m(tmp_path, monkeypatch):
    """A zip holding module ``m`` (``X = 1``) at the head of sys.path."""
    path = str(tmp_path / "m.zip")
    _write_zip(path, "m", "X = 1\n")
    monkeypatch.delitem(sys.modules, "m", raising=False)
    monkeypatch.syspath_prepend(path)
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_invalidations_without_lookups_read_no_directory(backported, zipped_m, monkeypatch):
    import m

    assert m.X == 1
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or real(archive))
    for _ in range(20):
        importlib.invalidate_caches()
    assert reads == []
    # the next lookup re-reads the archive once, for every importer of it
    del sys.modules["m"]
    import m  # noqa: F811

    assert reads.count(zipped_m) == 1


def test_rewritten_zip_is_seen_after_invalidation(backported, zipped_m):
    import m

    assert m.X == 1
    _write_zip(zipped_m, "m", "X = 2\n", pad="X = 0\n")
    importlib.invalidate_caches()
    del sys.modules["m"]
    import m  # noqa: F811

    assert m.X == 2


def test_python_3_13_is_left_alone(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    before = dict(vars(zipimport.zipimporter))
    assert pydaemon.backport_lazy_zip_invalidation() is False
    assert dict(vars(zipimport.zipimporter)) == before


def test_session_workers_run_the_backport(spark):
    def where(batches):
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"f": [zipimport.zipimporter.invalidate_caches.__code__.co_filename]})

    files = {r["f"] for r in spark.range(4).repartition(2)
             .mapInPandas(where, "f string").collect()}
    want = "pydaemon.py" if sys.version_info < (3, 13) else "zipimport.py"
    assert files and all(f.endswith(want) for f in files), files


def test_pyfiles_added_after_first_task_are_importable(spark, tmp_path):
    """``setup_spark_files`` invalidates so that files shipped later are
    found: a zip and a ``.py`` added after the first Python task both
    import in a later UDF."""
    sc = spark.sparkContext
    df = spark.range(2).repartition(2)

    def first(batches):
        for pdf in batches:
            yield pdf

    assert df.mapInPandas(first, "id long").count() == 2
    suffix = uuid.uuid4().hex[:8]
    zname, pname = f"late_zip_{suffix}", f"late_py_{suffix}"
    _write_zip(str(tmp_path / f"{zname}.zip"), zname, "VALUE = 7\n")
    (tmp_path / f"{pname}.py").write_text("VALUE = 35\n")
    sc.addPyFile(str(tmp_path / f"{zname}.zip"))
    sc.addPyFile(str(tmp_path / f"{pname}.py"))

    def late(batches):
        za = importlib.import_module(zname)
        pa = importlib.import_module(pname)
        for pdf in batches:
            yield pd.DataFrame({"v": [za.VALUE + pa.VALUE] * len(pdf)})

    assert {r["v"] for r in df.mapInPandas(late, "v long").collect()} == {42}


def test_session_outside_the_repository_runs_python_udfs(tmp_path):
    """From another working directory, with PYTHONPATH unset, the
    workers still find the daemon module (the session puts the package
    root on their PYTHONPATH)."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from tiff_to_geojson_csv_json_format_converter_spark.plans.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        print("SUM", spark.range(10).select(plus_one("id").alias("v")).agg(F.sum("v")).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=300)
    assert "SUM 55" in out.stdout, out.stderr[-3000:]
