"""The worker daemon's stat-keyed zip invalidation.

Every PySpark task calls `importlib.invalidate_caches()` before its UDF
runs; without the daemon, each `zipimporter` on the worker's path then
re-reads its whole archive directory (pyspark.zip, the Spark jar)."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd


def test_tasks_do_not_reread_unchanged_archives(spark):
    def count_rereads(batches):
        for _ in batches:
            pass
        importlib.invalidate_caches()  # reads importers this task created
        calls = []
        original = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pd.DataFrame({"n": [len(calls)]})

    got = spark.range(1, numPartitions=1).mapInPandas(count_rereads, "n long").collect()
    assert [r["n"] for r in got] == [0]


def test_daemon_starts_outside_the_repo(tmp_path):
    """A driver whose working directory is not the repo root (the package
    only on its own sys.path) still gets Python workers: get_spark puts the
    package root on the workers' PYTHONPATH for the daemon module."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from distributed_web_crawler_spark.session import get_spark
        spark = get_spark(app="daemon-cwd", cores=1, shuffle_partitions=1)
        def ident(batches):
            yield from batches
        print("rows", spark.range(3).mapInPandas(ident, "id long").count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert "rows 3" in out.stdout, out.stderr[-2000:]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_stat_keyed_invalidation(tmp_path, monkeypatch):
    from distributed_web_crawler_spark import worker_daemon

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    undo = worker_daemon.install()
    sys.path.insert(0, archive)
    calls = []
    original = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("a").NAME == "a"
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)
        calls.clear()
        importlib.invalidate_caches()  # first call on an importer always reads
        assert calls.count(archive) == 1

        calls.clear()
        importlib.invalidate_caches()
        assert archive not in calls, "an untouched archive was re-read"

        st = os.stat(archive)
        _write_zip(archive, ["a", "b"])
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert calls.count(archive) == 1, "a rewritten archive was not re-read"
        assert importlib.import_module("b").NAME == "b"

        calls.clear()
        os.remove(archive)
        importlib.invalidate_caches()  # cannot be stat'ed: the original path
        assert calls.count(archive) == 1
        assert importer._files == {}
    finally:
        undo()
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("a", "b"):
            sys.modules.pop(name, None)
