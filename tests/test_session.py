"""Session layer: the worker daemon's stat-checked zip invalidation and the
worker PYTHONPATH that lets it import from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from traderjoe_etl_spark.pyworker import stat_checked
from traderjoe_etl_spark.session import PACKAGE_ROOT, worker_pythonpath

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily"
)


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)


def _load(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@needs_eager_zipimport
def test_stat_checked_invalidation_rereads_only_changed_archives(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a.py": "x = 1\n"})
    imp = zipimport.zipimporter(archive)
    invalidate = stat_checked(zipimport.zipimporter.invalidate_caches)
    invalidate(imp)
    files = imp._files
    invalidate(imp)
    assert imp._files is files  # unchanged archive: directory kept

    # New size: re-read, and the added module imports.
    _write_zip(archive, {"a.py": "x = 1\n", "b.py": "y = 2\n"})
    invalidate(imp)
    assert imp._files is not files and _load(imp, "b").y == 2

    # Same size, new mtime: re-read too.
    files = imp._files
    st = os.stat(archive)
    _write_zip(archive, {"a.py": "x = 1\n", "b.py": "y = 3\n"})
    assert os.stat(archive).st_size == st.st_size
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    invalidate(imp)
    assert imp._files is not files and _load(imp, "b").y == 3


@needs_eager_zipimport
def test_warm_worker_keeps_zip_directories(spark):
    """In a get_spark worker, invalidate_caches re-reads no unchanged
    archive (the stock daemon re-reads all of pyspark.zip, py4j and the
    spark-core jar on every task)."""

    def _reread_count(_):
        import importlib
        import sys
        import zipimport

        imps = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        before = [v._files for v in imps]
        importlib.invalidate_caches()
        yield len(imps), sum(v._files is not b for v, b in zip(imps, before))

    rdd = spark.sparkContext.parallelize([0], 1).mapPartitions(_reread_count)
    rdd.collect()  # warm the worker
    [(importers, reread)] = rdd.collect()
    assert importers > 0
    assert reread == 0


def test_worker_pythonpath_prepends_package_root_once():
    assert worker_pythonpath(None) == PACKAGE_ROOT
    joined = os.pathsep.join(["/a", PACKAGE_ROOT, "/b"])
    assert worker_pythonpath(joined) == os.pathsep.join([PACKAGE_ROOT, "/a", "/b"])


def test_python_tasks_run_from_any_working_directory(tmp_path):
    """The daemon module imports in workers even when the package is only
    on the driver's sys.path and the cwd is elsewhere. The session also
    carries a 1000-entry codegen cache; vanilla sessions (such as the one
    ``__spark_entry__`` receives) keep Spark's 100."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from traderjoe_etl_spark.session import get_spark

        spark = get_spark("cwd-check", master="local[1]")
        df = spark.range(3).mapInPandas(
            lambda it: (p.assign(id=p.id + 1) for p in it), "id long"
        )
        print("ROWS", sorted(r.id for r in df.collect()))
        print("CODEGEN_CACHE", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS [1, 2, 3]" in out.stdout, out.stderr[-2000:]
    assert "CODEGEN_CACHE 1000" in out.stdout
