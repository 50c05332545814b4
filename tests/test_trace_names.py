"""The traced benchmark (perfbench/run.py --trace 1) attributes Spark jobs
by patching engine, catalog and ledger methods by name, and fails when one
of them is missing. This runs its install and uninstall, so a refactor
that renames or deletes one of those methods fails here too."""

from perfbench.layers import ENGINE_GROUPS, Tracer

from distributed_web_crawler_spark.plans import frontier


def test_tracer_installs_and_uninstalls(spark):
    E = frontier.FrontierEngine
    before = {name: E.__dict__[name] for name in ENGINE_GROUPS}
    pool_submit = frontier._pool_submit
    tracer = Tracer(spark)
    tracer.install()
    try:
        assert all(E.__dict__[name] is not before[name] for name in ENGINE_GROUPS)
        assert frontier._pool_submit is not pool_submit
    finally:
        tracer.uninstall()
    assert {name: E.__dict__[name] for name in ENGINE_GROUPS} == before
    assert frontier._pool_submit is pool_submit
