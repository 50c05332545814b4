"""Process plumbing shared by the workloads: environment and Spark session
set-up inside the checkout, gateway shutdown, the pinned-corpus cache and the
/proc RSS sampler."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
NPROC = len(os.sched_getaffinity(0))
# the driver JVM heap: explicit and far below the machine's RAM (the
# package default is 24g); the crawl and slice working sets stay < 1 GB
DRIVER_MEM = "3g"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    driver, the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict = {}
        rss: dict = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    rss[int(d)] = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            # field 4 (ppid) follows the parenthesised command name
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def prepare_env(work: str) -> None:
    """Process-wide settings that must be in place before the JVM starts:
    the Python workers import the package from the checkout, temp files and
    JVM scratch stay inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def spark_session(work: str, trace: bool):
    from distributed_web_crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                # plain single-file JSON lines (Spark 4.1 otherwise writes
                # zstd-compressed, rolled event-log directories)
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app="perfbench", cores=NPROC, extra=extra)


def stop_spark(spark) -> None:
    """Stop the session AND the gateway JVM it launched (its Python workers
    exit with it), waiting until the process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def ensure_corpus(spec, path: str, work: str) -> float:
    """Build the pinned crawl corpus into the benchmark cache unless the
    cached copy's _SPEC stamp matches the current generator version and
    spec. The build runs on its own Spark session, stopped before the
    measured one starts, so neither its cost nor its JVM warm-up lands in
    the run. Returns the build seconds (0 when the cache is current)."""
    from distributed_web_crawler_spark.sources.corpus_source import _MARKER_VERSION, build_corpus

    marker = os.path.join(path, "_SPEC")
    # the stamp build_corpus writes and checks
    stamp = f"{_MARKER_VERSION}:{spec.n}:{spec.seed}:{spec.n_hosts}"
    if _read(marker) == stamp:
        return 0.0
    for d in (path, path.rstrip("/") + "_blobs"):
        shutil.rmtree(d, ignore_errors=True)
    t0 = time.monotonic()
    spark = spark_session(work, trace=False)
    try:
        build_corpus(spark, spec, path)
    finally:
        stop_spark(spark)
    if _read(marker) != stamp:
        raise RuntimeError(f"corpus stamp {_read(marker)!r} != {stamp!r}: build_corpus changed its stamp format")
    return time.monotonic() - t0


def _read(path: str):
    try:
        with open(path) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None
