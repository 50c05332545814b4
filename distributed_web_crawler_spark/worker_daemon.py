"""PySpark worker daemon that does not re-read unchanged zip archives.

Before each task, PySpark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. On Python 3.11 that makes every
`zipimporter` in `sys.path_importer_cache` re-parse its archive's central
directory in pure Python: `pyspark.zip` once per imported pyspark
sub-package plus the Spark jar on the workers' PYTHONPATH, 16 archives and
160–280 ms of CPU per task before the UDF runs (4-core VM).

Run as the daemon (`session.get_spark` sets `spark.python.daemon.module`),
this module makes `zipimporter.invalidate_caches` re-read an archive only
when its `(st_mtime_ns, st_size)` differs from the importer's last read, or
when it cannot be stat'ed; the first call on each importer always reads. It
then runs `pyspark.daemon.manager()`, and every forked worker inherits the
replacement. Importing the module has no side effects.

Spark starts the daemon as `python -m distributed_web_crawler_spark.worker_daemon
pyspark.worker`, so this module must be importable wherever the package's
UDF modules already are: from the working directory or from PYTHONPATH.
`get_spark` puts the package root on the workers' PYTHONPATH, so both hold
from any working directory.
"""

from __future__ import annotations

import os
import zipimport


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install():
    """Replace `zipimporter.invalidate_caches` with the stat-keyed version;
    returns a callable that restores the original."""
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is not None and key == getattr(self, "_read_key", None):
            return
        original(self)
        self._read_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return lambda: setattr(zipimport.zipimporter, "invalidate_caches", original)


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
