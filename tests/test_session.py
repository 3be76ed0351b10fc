"""session.get_spark wiring and the worker daemon's zip-import refresh.

The refresh rule (``worker_daemon.invalidate_if_changed``) is tested
Spark-free on a temp archive, calling the function directly; the
daemon installs it only when run as ``__main__``.  The Spark tests
check what a ``get_spark`` worker sees: no archive re-read per task,
and ``deepie_spark`` importable whatever the driver's working
directory is.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa
import pytest

from deepie_spark import worker_daemon
from deepie_spark.worker_daemon import invalidate_if_changed

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def reads(monkeypatch):
    """Counts ``zipimport._read_directory`` calls."""
    calls = []
    stock = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_importing_the_daemon_module_keeps_stock_zipimport():
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._stock_invalidate


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zmod_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    reads.clear()  # the constructor reads the directory too
    invalidate_if_changed(importer)  # stamp unknown: reads once
    assert len(reads) == 1
    for _ in range(5):
        invalidate_if_changed(importer)
    assert len(reads) == 1
    # a second importer over the same archive keeps its own stamp
    other = zipimport.zipimporter(path)
    reads.clear()
    invalidate_if_changed(other)
    invalidate_if_changed(other)
    assert len(reads) == 1


def test_missing_archive_is_reread_every_time(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zmod_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    reads.clear()
    os.remove(path)
    invalidate_if_changed(importer)
    invalidate_if_changed(importer)
    assert len(reads) == 2
    assert importer.find_spec("zmod_a") is None


def test_rewritten_archive_is_reread_and_new_module_imports(
    tmp_path, reads, monkeypatch
):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zmod_session_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    # the rule in place of the stock refresh, for this test only
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", invalidate_if_changed
    )
    monkeypatch.delitem(sys.modules, "zmod_session_a", raising=False)
    monkeypatch.delitem(sys.modules, "zmod_session_b", raising=False)
    assert importlib.import_module("zmod_session_a").X == 1
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[path]
    assert importer.find_spec("zmod_session_b") is None
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n  # unchanged: no re-read

    _write_zip(path, {"zmod_session_a": "X = 1\n", "zmod_session_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads[n:] == [path]
    assert importlib.import_module("zmod_session_b").Y == 2


def test_worker_does_not_reread_archives_per_task(spark):
    """Inside a ``get_spark`` worker, ``importlib.invalidate_caches()``
    (which ``pyspark.worker_util.setup_spark_files`` calls on every
    task) reads no archive directory.  The stock daemon re-reads
    ``pyspark.zip`` once per zip importer here (Python < 3.13)."""

    def run(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        # an importer this task's own imports made reads its archive once
        importlib.invalidate_caches()
        calls = [0]
        stock = zipimport._read_directory

        def counting(path):
            calls[0] += 1
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        yield pa.RecordBatch.from_pydict({"reads": [calls[0]]})

    rows = spark.range(0, 4, numPartitions=4).mapInArrow(run, "reads long").collect()
    assert len(rows) == 4
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_get_spark_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver outside the checkout, with no ``PYTHONPATH``: the
    workers still start the daemon and import ``deepie_spark``."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from deepie_spark.operators.mentions import detect_mentions
        from deepie_spark.session import get_spark

        spark = get_spark("cwd_check", cores=1)
        pages = spark.createDataFrame(
            [("u0", "Barack Obama visited Paris")], "url string, text string"
        )
        rows = detect_mentions(pages).collect()
        print("ROWS", len(rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 1" in out.stdout
