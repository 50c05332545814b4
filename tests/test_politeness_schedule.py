"""Write-once politeness scheduling: a depth's pending set is ranked ONCE
at sub-round 0 and written ONCE, partitioned by its computed due sub-round
(ceil(rn/budget)-1); sub-round 0 admits the due=0 slice and later
sub-rounds admit theirs purely by manifest reference. The mega-host case
is the point: M pending URLs at budget k must write O(M) schedule rows
total — the old rewrite-the-remainder loop wrote O(M²/k) — while
producing the identical oracle schedule."""

import glob
import os

import pyarrow.parquet as pq

from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine


def _split(scheduled):
    """(admitted, deferred): the due == 0 rows and the rest."""
    from pyspark.sql import functions as F

    return scheduled.filter(F.col("due") == 0).drop("due"), scheduled.filter(F.col("due") > 0)


def _deferred_rows_written(store) -> int:
    files = glob.glob(os.path.join(store.dir, "r*", "deferred", "**", "*.parquet"), recursive=True)
    return sum(pq.read_metadata(f).num_rows for f in files)


def _megahost_drain(spark, corpus_1k, tmp_path):
    """Drain 2,000 seeds of ONE mega-host at depth 1 and check the exact
    iterative-admission schedule and the O(M) schedule rows written."""
    spec, path = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=4000)  # host 0 budget = 8
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(politeness=pol, seen_buckets=8, compact_seen_every=None),
    )
    m, k = 2000, 8
    seeds = [f"http://h0000.test/p/{i}" for i in range(m)]  # ONE mega-host
    schedule = []
    res = eng.run_job(
        "mega", seeds, 1, on_round=lambda s: schedule.append((s.sub_round, s.n_admitted))
    )
    assert res["done"] and res["n_seen"] == m

    # exact iterative-admission schedule: k per sub-round, ceil(m/k) rounds
    assert len(schedule) == (m + k - 1) // k
    assert [n for _, n in schedule] == [k] * (m // k) + ([m % k] if m % k else [])
    assert [s for s, _ in schedule] == list(range(len(schedule)))

    # the scale property: schedule rows ever written = m (every slice,
    # sub-round 0's included, written exactly once). The per-sub-round
    # rewrite this replaced wrote sum_{s>=1}(m - s*k) ≈ m²/2k ≈ 250k rows
    # here.
    assert _deferred_rows_written(eng.store("mega")) == m

    # after the drain, no slice is still referenced (the due=0 slice never
    # was): vacuum clears them all
    stats = eng.store("mega").vacuum(staging_age_s=0.0)
    assert stats["stale_deferred"] == len(schedule)


def test_megahost_deferred_bytes_linear(spark, corpus_1k, tmp_path):
    _megahost_drain(spark, corpus_1k, tmp_path)


def test_schedule_slices_match_iterative_admission(spark, corpus_1k, tmp_path):
    """Mixed-host frontier: slicing by due reproduces admit-per-sub-round
    (stable per-host order) — checked row-exactly against a driver-side
    simulation of the budgeted queue."""
    import collections

    from distributed_web_crawler_spark.fixtures import corpus as C
    from distributed_web_crawler_spark.functions import urls as U
    from distributed_web_crawler_spark.operators.politeness import budget_col, schedule

    import pandas as pd
    from pyspark.sql import functions as F

    spec, _ = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=2000)
    urls = [C.url_of(i, spec) for i in range(300)]
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    df = (
        df.withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("seen_bucket", F.lit(0))
        .withColumn("depth", F.lit(0))
    )
    admitted, scheduled = _split(schedule(df, pol))
    got = collections.defaultdict(set)
    for r in admitted.collect():
        got[0].add(r["url"])
    for r in scheduled.collect():
        got[r["due"]].add(r["url"])

    # driver-side iterative simulation with the same order + budget rule
    budgets = {
        r["host"]: r["b"]
        for r in df.select("host", budget_col(F.col("host"), pol).alias("b")).distinct().collect()
    }
    per_host = collections.defaultdict(list)
    for r in sorted(df.collect(), key=lambda r: (r["url_hash"], r["url"])):
        per_host[r["host"]].append(r["url"])
    want = collections.defaultdict(set)
    for host, q in per_host.items():
        for rank, url in enumerate(q):
            want[rank // budgets[host]].add(url)
    assert dict(got) == dict(want)


def test_megahost_rank_spans_chunks_and_matches_single_window(spark, corpus_1k):
    """The r3-verdict scale fix: one host's ranking must NOT run in a single
    window task. Asserts (a) the mega-host's rows really span >= 4 url_hash
    range-chunks, (b) the row_number window partitions by (host, _chunk) —
    never by host alone, (c) chunk-local rank + prefix offset reproduces the
    plain single-window global rank bit-exactly."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    from distributed_web_crawler_spark.fixtures import corpus as C
    from distributed_web_crawler_spark.functions import urls as U
    from distributed_web_crawler_spark.operators.politeness import (
        RANK_CHUNK_BITS,
        schedule,
    )

    spec, _ = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=2000)
    urls = [f"http://h0000.test/p/{i}" for i in range(1500)]  # ONE host
    df = (
        spark.createDataFrame(pd.DataFrame({"url": urls}))
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("seen_bucket", F.lit(0))
        .withColumn("depth", F.lit(0))
    )
    n_chunks = (
        df.select(F.shiftright("url_hash", 64 - RANK_CHUNK_BITS).alias("c"))
        .distinct()
        .count()
    )
    assert n_chunks >= 4  # the host genuinely spans multiple rank tasks

    admitted, scheduled = _split(schedule(df, pol))
    # (b) plan shape: the big row_number window is keyed by host AND chunk
    plan = scheduled._jdf.queryExecution().optimizedPlan().toString()
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, plan
    assert all("_chunk" in ln for ln in rn_lines), rn_lines

    # (c) rank parity with the plain (host)-partitioned window
    w = Window.partitionBy("host").orderBy(F.col("url_hash").asc(), F.col("url").asc())
    want = {
        r["url"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    b = 4  # host 0 budget at 2000ms: 2000 // (500*(1+0)) = 4
    got_adm = {r["url"] for r in admitted.collect()}
    assert got_adm == {u for u, rn in want.items() if rn <= b}
    got_due = {r["url"]: r["due"] for r in scheduled.collect()}
    want_due = {u: (rn + b - 1) // b - 1 for u, rn in want.items() if rn > b}
    assert got_due == want_due


def test_priority_drain_orders_by_rank_within_budget(spark):
    """schedule(grade=...) drains high-priority URLs first per host,
    budgets and due-sub-round slicing unchanged — the pagerank docstring's
    'drop-in order key' claim, exercised. prio takes 7 integral values,
    so it is a valid coarse grade and the order is exact."""
    from pyspark.sql import functions as F

    from distributed_web_crawler_spark.operators.politeness import budget_col, schedule
    from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy

    rows = [
        (f"http://h0000.test/p/{i}", "h0000.test", (i * 37) % 1000 - 500, i, float(i % 7))
        for i in range(40)
    ]
    pending = spark.createDataFrame(
        rows, "url string, host string, url_hash long, seen_bucket int, prio double"
    )
    pol = PolitenessPolicy()
    admitted, scheduled = _split(schedule(pending, pol, grade=F.col("prio")))
    budget = pending.select(budget_col(F.col("host"), pol).alias("b")).first()["b"]
    adm = admitted.collect()
    assert len(adm) == budget
    # admitted = top-`budget` by (prio desc, url_hash, url) — verify exactly
    ordered = sorted(rows, key=lambda r: (-r[4], r[2], r[0]))
    assert {r["url"] for r in adm} == {r[0] for r in ordered[:budget]}
    # deferred slices: contiguous due values, each of size <= budget
    sched = scheduled.orderBy("due").collect()
    assert len(sched) == 40 - budget
    per_due = {}
    for r in sched:
        per_due.setdefault(r["due"], []).append(r["url"])
    assert sorted(per_due) == list(range(1, max(per_due) + 1))
    for due, urls in per_due.items():
        lo = due * budget
        assert set(urls) == {r[0] for r in ordered[lo : lo + budget]}


def test_megahost_graded_priority_drain_decomposes_and_matches(spark):
    """r5 VERDICT Next #5: the PRIORITY-ordered mega-host drain. A coarse
    grade column (quantized priority) re-enables the range-chunk
    decomposition: the row_number window partitions by (host, _grade,
    _chunk) — never host alone — and local-rank + prefix offsets
    reproduce the single-window (grade DESC, url_hash, url) schedule
    exactly, budgets and due slicing unchanged."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    from distributed_web_crawler_spark.functions import urls as U
    from distributed_web_crawler_spark.operators.politeness import (
        RANK_CHUNK_BITS,
        budget_col,
        schedule,
    )

    pol = PolitenessPolicy(round_duration_ms=2000)
    urls = [f"http://h0000.test/p/{i}" for i in range(1500)]  # ONE mega-host
    df = (
        spark.createDataFrame(pd.DataFrame({"url": urls, "prio": [(i * 13) % 997 for i in range(1500)]}))
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("seen_bucket", F.lit(0))
        .withColumn("depth", F.lit(0))
    )
    # coarse grade: priority quantized to 8 levels (higher = first)
    g = (F.col("prio") / F.lit(125)).cast("int")
    admitted, scheduled = _split(schedule(df, pol, grade=g))

    # decomposition evidence: the big window is keyed by grade AND chunk
    plan = scheduled._jdf.queryExecution().optimizedPlan().toString()
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, plan
    assert all("_chunk" in ln and "_grade" in ln for ln in rn_lines), rn_lines
    # the mega-host genuinely spans many window groups, each far below the
    # host's total: max group size bounds the largest single rank task
    groups = (
        df.withColumn("_grade", g)
        .withColumn("_chunk", F.shiftright("url_hash", 64 - RANK_CHUNK_BITS))
        .groupBy("_grade", "_chunk")
        .count()
        .collect()
    )
    assert len(groups) >= 32
    assert max(r["count"] for r in groups) <= 120  # ~1500/8/64 * slack

    # exact parity with the single-window graded schedule
    w = Window.partitionBy("host").orderBy(
        g.desc(), F.col("url_hash").asc(), F.col("url").asc()
    )
    want = {
        r["url"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    b = df.select(budget_col(F.col("host"), pol).alias("b")).first()["b"]
    assert {r["url"] for r in admitted.collect()} == {u for u, rn in want.items() if rn <= b}
    got_due = {r["url"]: r["due"] for r in scheduled.collect()}
    assert got_due == {u: (rn + b - 1) // b - 1 for u, rn in want.items() if rn > b}


def test_pagerank_to_grade_to_drain_end_to_end(spark):
    """The full priority-drain story in one pipe: pagerank over the link
    graph -> rank quantized to coarse grades -> graded politeness drain.
    High-rank pages must be admitted in the earliest sub-rounds of their
    host, budgets unchanged — the scalable realization of the r5 VERDICT's
    'pagerank as the per-host drain order' pairing."""
    from pyspark.sql import Window, functions as F

    from distributed_web_crawler_spark.functions import urls as U
    from distributed_web_crawler_spark.operators.pagerank import pagerank
    from distributed_web_crawler_spark.operators.politeness import budget_col, schedule

    # a two-host link graph where hub pages (low page number) accumulate
    # rank: every page links to page (i // 3) on the same host
    urls = [f"http://h{h:04d}.test/p/{i}" for h in (0, 1) for i in range(120)]
    edges = spark.createDataFrame(
        [(u, u.rsplit("/", 1)[0] + f"/{int(u.rsplit('/', 1)[1]) // 3}") for u in urls],
        "src string, dst string",
    ).filter(F.col("src") != F.col("dst"))
    pr = pagerank(edges, n_iters=3)

    # coarse grade: rank octile per the WHOLE frontier (deterministic,
    # data-derived; at scale this is a percentile_approx pass)
    oct_w = Window.orderBy(F.col("rank").asc(), F.col("url").asc())
    graded = pr.withColumn("grade", (F.ntile(8).over(oct_w) - 1).cast("int"))

    pending = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .join(graded.select(F.col("url"), "grade"), "url", "left")
        .na.fill({"grade": 0})
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("seen_bucket", F.lit(0))
        .withColumn("depth", F.lit(0))
    )
    pol = PolitenessPolicy(round_duration_ms=2000)
    admitted, scheduled = _split(schedule(pending, pol, grade=F.col("grade")))
    b = pending.select(budget_col(F.col("host"), pol).alias("b")).first()["b"]

    rank_of = {r["url"]: r["rank"] for r in pr.collect()}
    grade_of = {r["url"]: r["grade"] for r in graded.collect()}
    adm = [r["url"] for r in admitted.collect()]
    # per host: exactly `budget` admitted (h0000 b=4; h0001 budget differs)
    per_host = {}
    for u in adm:
        per_host.setdefault(u.split("//")[1].split("/")[0], []).append(u)
    assert len(per_host["h0000.test"]) == b
    # every admitted URL's grade >= every deferred same-host URL's grade
    deferred = [(r["url"], r["due"]) for r in scheduled.collect()]
    for host, urls_a in per_host.items():
        min_adm = min(grade_of[u] for u in urls_a)
        for u, _ in deferred:
            if u.startswith(f"http://{host}"):
                assert grade_of[u] <= min_adm
    # the hub pages (highest rank) are in the admitted set of their host
    top_h0 = sorted(
        (u for u in rank_of if u.startswith("http://h0000")),
        key=lambda u: -rank_of[u],
    )[:2]
    assert set(top_h0) <= set(per_host["h0000.test"])


def test_hits_to_grade_to_drain_end_to_end(spark):
    """Same pipe with the SECOND priority signal: HITS authority over the
    link graph -> auth octiles -> graded drain. politeness.schedule
    consumes any rank column; the authority-heavy pages (link targets)
    must be admitted in the earliest sub-rounds of their host."""
    from pyspark.sql import Window, functions as F

    from distributed_web_crawler_spark.functions import urls as U
    from distributed_web_crawler_spark.operators.hits import hits
    from distributed_web_crawler_spark.operators.politeness import budget_col, schedule

    urls = [f"http://h{h:04d}.test/p/{i}" for h in (0, 1) for i in range(120)]
    edges = spark.createDataFrame(
        [(u, u.rsplit("/", 1)[0] + f"/{int(u.rsplit('/', 1)[1]) // 3}") for u in urls],
        "src string, dst string",
    ).filter(F.col("src") != F.col("dst"))
    h = hits(edges, n_iters=2)

    oct_w = Window.orderBy(F.col("auth").asc(), F.col("url").asc())
    graded = h.withColumn("grade", (F.ntile(8).over(oct_w) - 1).cast("int"))
    pending = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .join(graded.select("url", "grade"), "url", "left")
        .na.fill({"grade": 0})
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("seen_bucket", F.lit(0))
        .withColumn("depth", F.lit(0))
    )
    pol = PolitenessPolicy(round_duration_ms=2000)
    admitted, scheduled = _split(schedule(pending, pol, grade=F.col("grade")))
    b = pending.select(budget_col(F.col("host"), pol).alias("b")).first()["b"]

    auth_of = {r["url"]: r["auth"] for r in h.collect()}
    grade_of = {r["url"]: r["grade"] for r in graded.collect()}
    adm = [r["url"] for r in admitted.collect()]
    per_host = {}
    for u in adm:
        per_host.setdefault(u.split("//")[1].split("/")[0], []).append(u)
    assert len(per_host["h0000.test"]) == b
    deferred = [(r["url"], r["due"]) for r in scheduled.collect()]
    for host, urls_a in per_host.items():
        min_adm = min(grade_of[u] for u in urls_a)
        for u, _ in deferred:
            if u.startswith(f"http://{host}"):
                assert grade_of[u] <= min_adm
    # the guaranteed property: the admitted set is drawn from the TOP
    # grades (within a grade the order key is url_hash, not auth — so the
    # single strongest authority need only beat the deferred GRADES, which
    # the loop above pinned). The strongest authority's grade must equal
    # the best grade its host admitted.
    top_h0 = max(
        (u for u in auth_of if u.startswith("http://h0000")), key=lambda u: auth_of[u]
    )
    assert grade_of[top_h0] == max(grade_of[u] for u in per_host["h0000.test"])


def test_engine_graded_drain_identical_results(spark, corpus_1k, tmp_path):
    """EngineConfig.politeness_grade wires schedule(grade=...) into the
    drain (r7 verdict #6): admission ORDER changes, the fetched SET and
    client payload must not — and with a budget wide enough to admit a
    whole depth per sub-round the round structure matches the plain
    drain too (the BENCH_GRADED=1 campaign mode)."""
    from distributed_web_crawler_spark.fixtures import corpus as C
    from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

    spec, corpus = corpus_1k
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 4)
    # multi-seed with six mega-host URLs so a genuinely tight budget
    # (1/host/sub-round) must defer at depth 0
    seeds = [C.url_of(seed_i, spec)] + [C.url_of(i, spec) for i in range(0, 60, 10)]
    base = dict(seen_buckets=8)
    res = {}
    for name, cfg in {
        "plain": EngineConfig(**base),
        "graded_wide": EngineConfig(
            politeness=PolitenessPolicy(round_duration_ms=1_000_000_000),
            politeness_grade="pmod(url_hash, 8)", **base,
        ),
        "graded_tight": EngineConfig(
            politeness=PolitenessPolicy(round_duration_ms=500),
            politeness_grade="pmod(url_hash, 8)", **base,
        ),
    }.items():
        eng = FrontierEngine(spark, str(tmp_path / name), corpus, spec, cfg)
        assert eng.run_job("g", seeds, 3)["done"]
        res[name] = (
            {(r["url"], r["depth"]) for r in eng.seen_df("g").collect()},
            eng.client_payload("g", 3),
            eng.store("g").last_committed(),
        )
    assert res["plain"][0] == res["graded_wide"][0] == res["graded_tight"][0]
    assert res["plain"][1] == res["graded_wide"][1] == res["graded_tight"][1]
    # wide budget reproduces the plain drain's round structure exactly
    assert res["plain"][2] == res["graded_wide"][2]
    # the tight budget really rate-limited (more committed rounds)
    assert res["graded_tight"][2] > res["plain"][2]


def test_rank_plan_chosen_from_pending_count(spark):
    """`schedule(n_rows=...)` picks the rank's plan from the pending count:
    at ≤ RANK_CHUNK_ROWS rows it is one row_number() over host with no
    chunk and no join; past it, or with n_rows unknown, the row_number()
    is keyed by chunk. On both plans, with and without a grade, `due`
    equals the single-window rank's ``(rn + b - 1) // b - 1`` row for
    row."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    from distributed_web_crawler_spark.functions import urls as U
    from distributed_web_crawler_spark.operators.politeness import (
        RANK_CHUNK_ROWS,
        budget_col,
        schedule,
    )

    pol = PolitenessPolicy(round_duration_ms=2000)
    # a mega-host plus three smaller hosts with other budgets
    urls = [f"http://h0000.test/p/{i}" for i in range(600)] + [
        f"http://h{h:04d}.test/p/{i}" for h in (1, 2, 3) for i in range(100)
    ]
    df = (
        spark.createDataFrame(pd.DataFrame({"url": urls, "prio": [(i * 13) % 997 for i in range(len(urls))]}))
        .withColumn("url_hash", U.url_hash(F.col("url")))
        .withColumn("host", U.host_of(F.col("url")))
        .withColumn("seen_bucket", F.lit(0))
        .withColumn("depth", F.lit(0))
    )
    g = (F.col("prio") / F.lit(125)).cast("int")

    def plan(frame):
        return frame._jdf.queryExecution().optimizedPlan().toString()

    for n_rows in (1000, RANK_CHUNK_ROWS):
        small = plan(schedule(df, pol, n_rows=n_rows))
        assert "_chunk" not in small and "Join" not in small, small
    for n_rows in (RANK_CHUNK_ROWS + 1, 10**8, None):
        rn_lines = [ln for ln in plan(schedule(df, pol, n_rows=n_rows)).splitlines() if "row_number()" in ln]
        assert rn_lines and all("_chunk" in ln for ln in rn_lines), (n_rows, rn_lines)

    budgets = {r["host"]: r["b"] for r in df.select("host", budget_col(F.col("host"), pol).alias("b")).distinct().collect()}
    assert len(set(budgets.values())) > 1
    for grade in (None, g):
        order = ([] if grade is None else [grade.desc()]) + [F.col("url_hash").asc(), F.col("url").asc()]
        w = Window.partitionBy("host").orderBy(*order)
        want = {}
        for r in df.select("url", "host", F.row_number().over(w).alias("rn")).collect():
            b = budgets[r["host"]]
            want[r["url"]] = (r["rn"] + b - 1) // b - 1
        for n_rows in (1000, 10**8):
            got = {r["url"]: r["due"] for r in schedule(df, pol, grade=grade, n_rows=n_rows).collect()}
            assert got == want, (n_rows, grade is not None)


def test_megahost_drain_on_the_chunked_rank(spark, corpus_1k, tmp_path, monkeypatch):
    """The mega-host drain of test_megahost_deferred_bytes_linear with
    RANK_CHUNK_ROWS shrunk to 64, so the engine's schedule takes the
    chunked rank (offsets aggregate + broadcast join) where the default
    run ranks in one plain window: the same schedule, n_seen and schedule
    rows written."""
    from distributed_web_crawler_spark.operators import politeness
    from distributed_web_crawler_spark.plans import frontier

    monkeypatch.setattr(politeness, "RANK_CHUNK_ROWS", 64)
    chunked = []
    orig = frontier.schedule

    def spy(*a, **k):
        out = orig(*a, **k)
        chunked.append("_chunk" in out._jdf.queryExecution().analyzed().toString())
        return out

    monkeypatch.setattr(frontier, "schedule", spy)
    _megahost_drain(spark, corpus_1k, tmp_path)
    assert chunked == [True]
