"""One store format: every commit carries ``"format": STORE_FORMAT``, and
every entry point that can mutate a job store (run_job, unsee_urls,
unsee_matching, vacuum) refuses a store whose last commit carries another
stamp, or none, before it touches a single file."""

import hashlib
import json
import os

import pytest
from conftest import _check_payloads

from distributed_web_crawler_spark.catalog.tables import STORE_FORMAT
from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine


def _snapshot(root: str) -> dict:
    """relpath -> sha256 of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_foreign_store_format_is_refused_untouched(spark, corpus_1k, tmp_path):
    spec, path = corpus_1k
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig(seen_buckets=8))
    seeds = [C.url_of(i, spec) for i in range(5, 40, 5)]
    assert not eng.run_job("f", seeds, 3, max_rounds=1)["done"]
    _check_payloads(eng, "f")
    store = eng.store("f")
    last = store.last_committed()
    assert last == 1
    # an uncommitted staging dir of the next round, which each entry point
    # would otherwise sweep (vacuum at age 0 included)
    os.makedirs(os.path.join(store.new_path(last + 1), "seen_bucket=0"))
    with open(os.path.join(store.new_path(last + 1), "seen_bucket=0", "part-00000.parquet"), "wb") as f:
        f.write(b"staged")

    def set_format(value):
        for r in store.committed_rounds():
            with open(store._commit_path(r)) as f:
                info = json.load(f)
            info.pop("format", None)
            if value is not None:
                info["format"] = value
            with open(store._commit_path(r), "w") as f:
                json.dump(info, f)

    calls = {
        "run_job": lambda: eng.run_job("f", seeds, 3),
        "unsee_urls": lambda: eng.unsee_urls("f", seeds[:2], reseed=True),
        "unsee_matching": lambda: eng.unsee_matching("f", "depth = 1", reseed=True),
        "vacuum": lambda: store.vacuum(staging_age_s=0),
    }
    for value in (None, STORE_FORMAT + 1):
        set_format(value)
        before = _snapshot(store.dir)
        for name, call in calls.items():
            with pytest.raises(ValueError, match="rerun in a fresh warehouse") as err:
                call()
            assert store.dir in str(err.value), (value, name)
            assert _snapshot(store.dir) == before, (value, name)
