"""Mid-run task close / re-open (+ seed push) — engine == oracle.

Reference semantics: the etcd resource watch (engine/schedule.go:449-497)
drives deleteTasks (schedule.go:526-534: Closed=true, in-flight requests of
the task then fail Request.Check and are dropped) and runTasks
(schedule.go:536-563: re-open + push the task's Root seeds). Here the same
schedule is applied to the Spark engine (between rounds, via
set_task_closed / run_task) and to the pure-Python oracle (run_oracle's
on_round hook) and the full outputs must stay equal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.engine import CrawlEngine
from crawler_spark.fixtures import make_fixture, write_fixture
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.oracle import run_oracle
from crawler_spark.textcore import canonicalize, host_of, seen_key


def _topic_seed_rows(fx, n=2):
    """FRONTIER-shaped (minus seq/attempt) rows for n topic pages."""
    urls = sorted(
        p["url"] for p in fx.web_graph if "/topic/" in p["url"]
    )[:n]
    rows = []
    for u in urls:
        cu = canonicalize(u)
        rows.append(
            {
                "url": u,
                "curl": cu,
                "host": host_of(u),
                "method": "GET",
                "key": seen_key(cu),
                "task": "group_task",
                "rule": "group",
                "depth": 0,
                "priority": 1,
                "tmp": {},
            }
        )
    return rows


@pytest.fixture(scope="module")
def dynamic_crawl(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("dyn")
    fx = make_fixture()
    write_fixture(fx, str(d / "fx"), spark)
    pushed = _topic_seed_rows(fx)

    def on_round(rnd, ctl):
        if rnd == 1:
            ctl.close_task("group_task")
        elif rnd == 3:
            ctl.push_seeds("group_task", pushed)

    oracle = run_oracle(
        fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s,
        on_round=on_round,
    )

    web = spark.read.parquet(str(d / "fx" / "web_graph"))
    seeds = spark.read.parquet(str(d / "fx" / "seeds"))
    eng = CrawlEngine(
        spark, str(d / "state"), GraphFetcher(web),
        fx.tasks, fx.rules, fx.robots, fx.round_s,
    )
    eng.init_state(seeds)
    eng.run(max_rounds=1)
    eng.set_task_closed("group_task")  # deleteTasks analog after round 1
    eng.run(max_rounds=2)  # rounds 2-3
    eng.run_task("group_task", pushed)  # runTasks analog after round 3
    eng.run()
    return fx, oracle, eng


def test_closed_task_frontier_rows_dropped(dynamic_crawl):
    """After the close, no group_task row survives into later frontiers
    until the explicit re-open push (the in-flight topic links of round 1
    are gone for good, like requests failing Request.Check)."""
    _, _, eng = dynamic_crawl
    # round 2 ran with group_task closed: its written frontier must hold
    # zero group_task rows even though round 1 discovered topic links
    f2 = eng.store.read_frontier(2)
    assert f2.filter(F.col("task") == "group_task").count() == 0


def test_dynamic_order_matches(dynamic_crawl):
    _, oracle, eng = dynamic_crawl
    rnd = eng.store.latest_round()
    got = (
        eng.store.read_through("order", rnd)
        .orderBy("round", F.desc("priority"), "seq")
        .select("curl", "round")
        .collect()
    )
    assert [(r["curl"], r["round"]) for r in got] == [
        (u, rd) for _, u, rd in oracle.order
    ]


def test_dynamic_seen_matches(dynamic_crawl):
    _, oracle, eng = dynamic_crawl
    rnd = eng.store.latest_round()
    got = {
        r["key"]
        for r in eng.store.read_through("seen", rnd).select("key").collect()
    }
    assert got == oracle.seen


def test_dynamic_metrics_match(dynamic_crawl):
    _, oracle, eng = dynamic_crawl
    rnd = eng.store.latest_round()
    rows = eng.store.read_through("metrics", rnd).collect()
    got = sorted(
        (r["round"], r["task"], r["selected"], r["fetched_ok"], r["failed"],
         r["retried"], r["new_links"], r["items"])
        for r in rows
    )
    want = sorted(
        (m["round"], m["task"], m["selected"], m["fetched_ok"], m["failed"],
         m["retried"], m["new_links"], m["items"])
        for m in oracle.metrics
    )
    assert got == want


def test_seeds_pushed_before_an_idle_round_are_fetched(spark, tmp_path):
    """A round with zero budget waves nothing; seeds run_task queued before
    it must survive it and be fetched in the round the oracle fetches
    them, with the same seqs."""
    from crawler_spark import schemas
    from crawler_spark.textcore import LimitTier, Rule, TaskCfg

    host = "leaf.example.com"
    pages = [
        {"url": f"http://{host}/p/{i}", "host": host, "status": 200,
         "body": f"<h1>{i}</h1>\n" + "pad\n" * 2500, "latency_ms": 1}
        for i in range(5)
    ]
    rows = []
    for p in pages:
        cu = canonicalize(p["url"])
        rows.append(
            {"url": p["url"], "curl": cu, "host": host, "method": "GET",
             "key": seen_key(cu), "task": "t", "rule": "leaf", "depth": 0,
             "priority": 0, "tmp": {}}
        )
    seeds = [dict(r, seq=i, attempt=0) for i, r in enumerate(rows[:4])]
    pushed = rows[4:]
    # one fetch per 120 s at 60 s rounds: budgets 1, 1, 0, 1, 0, ...
    tasks = [TaskCfg(name="t", max_depth=5, limits=(LimitTier(1, 120, 1),))]
    rules = [Rule(task="t", rule="leaf")]

    def on_round(rnd, ctl):
        if rnd == 2:
            ctl.push_seeds("t", pushed)

    oracle = run_oracle(seeds, pages, tasks, rules, [], 60, on_round=on_round)

    eng = CrawlEngine(
        spark, str(tmp_path / "state"), GraphFetcher(spark.createDataFrame(pages)),
        tasks, rules, [], 60,
    )
    eng.init_state(spark.createDataFrame(seeds, schemas.FRONTIER))
    eng.run(max_rounds=2)
    eng.run_task("t", pushed)  # round 3 has no budget
    eng.run()
    rnd = eng.store.latest_round()
    got = (
        eng.store.read_through("order", rnd)
        .orderBy("round", F.desc("priority"), "seq")
        .select("curl", "round")
        .collect()
    )
    assert [(r["curl"], r["round"]) for r in got] == [
        (u, rd) for _, u, rd in oracle.order
    ]
    seen = {r["key"] for r in eng.store.read_through("seen", rnd).collect()}
    assert seen == oracle.seen
