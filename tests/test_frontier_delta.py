"""Merge-on-read delta rounds of the frontier.

A round over a frontier of at most ``frontier_bucket_rows`` live rows
rewrites the surviving frontier — O(frontier) write I/O to consume O(wave).
A larger frontier's budget-bound rounds append links/retries + consumed-seq
tombstones and fold to a fresh base only on the arithmetic compaction
trigger. These tests run a reference engine at the default bucket size
(every round rewrites) against one whose small ``frontier_bucket_rows``
makes delta rounds engage, and pin byte-parity on the full fixture
(duplicate links + multi-tier budgets — both delta hazards present), the
loser-tombstone semantics on a handcrafted budget-bound graph with a
failing page, and kill+resume across delta rounds.
"""

from __future__ import annotations

import os

import pytest

from crawler_spark.engine import CrawlEngine
from crawler_spark.fixtures import make_fixture, write_fixture
from crawler_spark.operators.fetch import GraphFetcher
from crawler_spark.textcore import LimitTier, Rule, TaskCfg, canonicalize, host_of, seen_key


def _final_state(eng):
    rnd = eng.store.latest_round()
    order = sorted(
        tuple(r)
        for r in eng.store.read_through("order", rnd)
        .select("round", "priority", "seq", "curl")
        .collect()
    )
    seen = sorted(r["key"] for r in eng.store.read_through("seen", rnd).collect())
    return rnd, order, seen


def _run(spark, root, fx_dir, fx, name, **kw):
    web = spark.read.parquet(f"{fx_dir}/web_graph")
    eng = CrawlEngine(
        spark, f"{root}/state_{name}", GraphFetcher(web), fx.tasks, fx.rules,
        fx.robots, fx.round_s, **kw,
    )
    eng.init_state(spark.read.parquet(f"{fx_dir}/seeds"))
    eng.run()
    return eng


def test_delta_matches_snapshot_on_full_fixture(spark, tmpdir_):
    fx = make_fixture()
    write_fixture(fx, f"{tmpdir_}/fx", spark)
    snap = _run(spark, tmpdir_, f"{tmpdir_}/fx", fx, "snapshot")
    # 32 rows per bucket: rounds over 2 and 17 live rows rewrite, the
    # larger middle rounds may append deltas, the last one rewrites again
    delt = _run(spark, tmpdir_, f"{tmpdir_}/fx", fx, "delta",
                frontier_compact_factor=3.0, frontier_bucket_rows=32)
    assert _final_state(snap) == _final_state(delt)
    # the delta path genuinely engaged: some committed round has no
    # frontier snapshot dir (its view lives in base + add/del deltas)
    rnd = delt.store.latest_round()
    delta_rounds = [
        r for r in range(1, rnd + 1)
        if not os.path.isdir(f"{tmpdir_}/state_delta/rounds/r{r:05d}/frontier")
    ]
    assert delta_rounds, "no round took the delta path — fixture not budget-bound?"


def _hub_fixture():
    """Two hubs linking overlapping leaves; C's page is invalid (fails,
    retries once, then permanent). Budget 2/round forces deferral, the
    C/D duplicates force within-round dedup losers."""
    H = "http://hub.example.com"
    ok_body = lambda name, links: (
        f"<h1>{name}</h1>\n"
        + "\n".join(f'<a href="{u}">x</a>' for u in links)
        + "\npad" * 2500
    )
    leaves = {c: f"{H}/leaf/{c}" for c in "CDEF"}
    pages = [
        {"url": f"{H}/hub/A", "host": "hub.example.com", "status": 200,
         "body": ok_body("A", [leaves["C"], leaves["D"], leaves["E"]]),
         "latency_ms": 1},
        {"url": f"{H}/hub/B", "host": "hub.example.com", "status": 200,
         "body": ok_body("B", [leaves["C"], leaves["D"], leaves["F"]]),
         "latency_ms": 1},
        {"url": leaves["C"], "host": "hub.example.com", "status": 200,
         "body": "too short", "latency_ms": 1},  # < 6000 => fetch failure
    ] + [
        {"url": leaves[c], "host": "hub.example.com", "status": 200,
         "body": ok_body(c, []), "latency_ms": 1}
        for c in "DEF"
    ]
    tasks = [TaskCfg(name="t", max_depth=5, limits=(LimitTier(2, 60, 2),))]
    rules = [
        Rule(task="t", rule="hub",
             link_regex=r'<a href="(http://hub\.example\.com/leaf/[^"]+)">',
             next_rule="leaf", next_priority=0),
        Rule(task="t", rule="leaf"),
    ]
    seeds = []
    for i, hub in enumerate(("A", "B")):
        url = f"{H}/hub/{hub}"
        curl = canonicalize(url)
        seeds.append(
            {"url": url, "curl": curl, "host": host_of(url), "method": "GET",
             "key": seen_key(curl), "task": "t", "rule": "hub", "depth": 0,
             "priority": 1, "seq": i, "attempt": 0, "tmp": {}}
        )
    return pages, seeds, tasks, rules


def test_rewrite_base_layout_follows_written_size(spark, tmpdir_):
    """A base is bucketed only when the frontier it WRITES exceeds one
    bucket: the 4 leaf seeds (2 rows per bucket) get a bucketed base, and
    the unbudgeted round 1 that consumes them all writes its lone retry
    (page C fails) as a plain base."""
    from crawler_spark import schemas

    pages, seeds, _, rules = _hub_fixture()
    leaves = [p for p in pages if "/leaf/" in p["url"]]
    seeds = [
        {**seeds[0], "url": p["url"], "curl": canonicalize(p["url"]),
         "key": seen_key(canonicalize(p["url"])), "rule": "leaf", "seq": i}
        for i, p in enumerate(leaves)
    ]
    eng = CrawlEngine(
        spark, f"{tmpdir_}/st", GraphFetcher(spark.createDataFrame(pages)),
        [TaskCfg(name="t")], rules, [], round_s=60, frontier_bucket_rows=2,
    )
    eng.init_state(spark.createDataFrame(seeds, schemas.FRONTIER))
    eng.run()
    assert "frontier_buckets" in eng.store.manifest(0)
    assert eng.store.manifest(1)["frontier_counts"] == {"t": 1}
    assert "frontier_buckets" not in eng.store.manifest(1)
    rnd = eng.store.latest_round()
    order = [r["curl"] for r in eng.store.read_through("order", rnd).collect()]
    # every leaf fetched once, and C once more from the plain base
    assert sorted(order) == sorted(
        [canonicalize(p["url"]) for p in leaves] + [canonicalize(leaves[0]["url"])]
    )


# "snapshot": the default bucket size, every round rewrites; "delta": two
# rows per bucket, so the 6-row round 2 frontier takes a delta round
@pytest.mark.parametrize("mode", ["snapshot", "delta"])
def test_loser_tombstones_and_retry_order(spark, tmpdir_, mode):
    from crawler_spark import schemas

    pages, seeds, tasks, rules = _hub_fixture()
    web = spark.createDataFrame(pages)
    kw = {"frontier_bucket_rows": 2} if mode == "delta" else {}
    eng = CrawlEngine(
        spark, f"{tmpdir_}/st_{mode}", GraphFetcher(web), tasks, rules, [],
        round_s=60, frontier_compact_factor=10.0, **kw,
    )
    eng.init_state(spark.createDataFrame(seeds, schemas.FRONTIER))
    eng.run()
    rnd = eng.store.latest_round()
    order = sorted(
        (r["round"], r["seq"], r["curl"])
        for r in eng.store.read_through("order", rnd)
        .select("round", "seq", "curl")
        .collect()
    )
    c_rows = [o for o in order if o[2].endswith("/leaf/C")]
    # C fetched EXACTLY twice: the dedup winner and its single retry — the
    # same-key dedup LOSER must never resurface, even though in a delta round
    # it stays physically present until tombstoned
    assert len(c_rows) == 2, order
    # the retry carries a FRESH seq above every other fetched seq; the
    # loser's smaller original seq out-ranking it is the resurfacing bug
    assert c_rows[1][1] == max(o[1] for o in order)
    # 7 fetches total: A,B | C,D | E,F | C-retry
    assert len(order) == 7, order
    seen = sorted(r["key"] for r in eng.store.read_through("seen", rnd).collect())
    expect_seen = sorted(
        seen_key(canonicalize(u))
        for u in [
            "http://hub.example.com/hub/A", "http://hub.example.com/hub/B",
            "http://hub.example.com/leaf/D", "http://hub.example.com/leaf/E",
            "http://hub.example.com/leaf/F",
        ]
    )
    assert seen == expect_seen  # C failed twice => never in seen
    # permanent failure recorded
    failures = eng.store.read_through("failures", rnd)
    assert failures is not None and failures.count() == 1


def test_delta_mode_kill_and_resume(spark, tmpdir_):
    fx = make_fixture(n_tags=2, lists_per_tag=2, books_per_list=6, n_topics=16)
    write_fixture(fx, f"{tmpdir_}/fx", spark)
    web = spark.read.parquet(f"{tmpdir_}/fx/web_graph")
    seeds = spark.read.parquet(f"{tmpdir_}/fx/seeds")

    ref = CrawlEngine(spark, f"{tmpdir_}/ref", GraphFetcher(web), fx.tasks,
                      fx.rules, fx.robots, fx.round_s)
    ref.init_state(seeds)
    ref.run()

    # 8 rows per bucket: every round after the 2-seed first one is large
    d1 = CrawlEngine(spark, f"{tmpdir_}/delta", GraphFetcher(web), fx.tasks,
                     fx.rules, fx.robots, fx.round_s,
                     frontier_compact_factor=4.0, frontier_bucket_rows=8)
    d1.init_state(seeds)
    d1.run(max_rounds=2)  # simulated kill
    d2 = CrawlEngine(spark, f"{tmpdir_}/delta", GraphFetcher(web), fx.tasks,
                     fx.rules, fx.robots, fx.round_s,
                     frontier_compact_factor=4.0, frontier_bucket_rows=8)
    d2.run()  # resume from the committed manifest (base + deltas)
    assert _final_state(ref) == _final_state(d2)
