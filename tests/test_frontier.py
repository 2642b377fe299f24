"""Hand-computed unit tests for the frontier-analytics operators
(pipeline/frontier.py). The sf0.01 DuckDB oracle covers the same ops at
corpus scale via tools/check_oracles.py."""

from __future__ import annotations

import datetime as dt

from crawler_spark.pipeline.frontier import (
    host_skew,
    refetch_schedule,
    trap_templates,
)


def test_trap_templates(spark):
    urls = spark.createDataFrame(
        [(f"http://A.example/item/{i}/view",) for i in range(5)]
        + [("http://a.example/about",)]
        + [("http://b.example/cal/2024-05-17",), ("http://b.example/cal/2024-06-01",)]
        + [("http://A.example/item/3/view",)],  # exact dup of an existing URL
        # (case-variant hosts group together via lower(); the distinct count
        # is over the RAW url — canonicalization is upstream, with_canonical)
        "url string",
    )
    got = {
        (r["host"], r["template"]): (r["n_urls"], r["is_trap"])
        for r in trap_templates(urls, min_urls=5).collect()
    }
    assert got == {
        ("a.example", "/item/N/view"): (5, True),  # 5 distinct (dup collapsed)
        ("a.example", "/about"): (1, False),
        ("b.example", "/cal/N"): (2, False),  # date runs collapse to one N
    }


def test_refetch_schedule_backoff(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # url 1: change at fetch 2 of 4 -> streak 2 -> interval 3600<<2
        (1, t0, 10, False),
        (1, t0 + dt.timedelta(hours=1), 11, True),
        (1, t0 + dt.timedelta(hours=2), 12, False),
        (1, t0 + dt.timedelta(hours=3), 13, False),
        # url 2: never changed, 12 fetches -> streak 12 capped at 8
        *[(2, t0 + dt.timedelta(hours=i), 20 + i, False) for i in range(12)],
        # url 3: changed on the last fetch -> streak 0 -> base interval
        (3, t0, 30, True),
    ]
    hist = spark.createDataFrame(
        rows, "url_id long, ts timestamp, fetch_id long, changed boolean"
    )
    got = {r["url_id"]: r.asDict() for r in refetch_schedule(hist).collect()}
    assert got[1]["unchanged_streak"] == 2
    assert got[1]["interval_s"] == 3600 << 2
    assert got[1]["next_fetch_epoch"] == int(
        (t0 + dt.timedelta(hours=3)).replace(tzinfo=dt.timezone.utc).timestamp()
    ) + (3600 << 2)
    assert got[2]["unchanged_streak"] == 12
    assert got[2]["interval_s"] == 3600 << 8  # capped at max_doublings=8
    assert got[3]["unchanged_streak"] == 0
    assert got[3]["interval_s"] == 3600


def test_host_skew_report(spark):
    # 10 urls: h0 x6, h1 x3, h2 x1 -> max share 6000bp, salt over 32 parts
    fr = spark.createDataFrame(
        [("h0",)] * 6 + [("h1",)] * 3 + [("h2",)], "host string"
    )
    row = host_skew(fr, n_parts=32).collect()[0].asDict()
    assert row == {
        "n_urls": 10,
        "n_hosts": 3,
        "max_host_share_bp": 6000,
        "top10_share_bp": 10000,
        "salt_factor_32": (6 * 32 + 9) // 10,  # ceil(192/10) = 20
    }


def test_url_features(spark):
    from crawler_spark.pipeline.frontier import url_features

    urls = spark.createDataFrame(
        [
            ("http://a.example/a/b/c?x=1&y=2#f",),
            ("http://a.example/",),
            ("http://a.example/about",),
            ("http://a.example/x?session=abc",),
        ],
        "url string",
    )
    got = {r["url"]: r.asDict() for r in url_features(urls).collect()}
    r = got["http://a.example/a/b/c?x=1&y=2#f"]
    assert (r["path_depth"], r["n_params"], r["n_digits"]) == (3, 2, 2)
    assert got["http://a.example/"]["path_depth"] == 0
    assert got["http://a.example/about"]["path_depth"] == 1
    assert got["http://a.example/x?session=abc"]["n_params"] == 1


def test_snapshot_diff_semantics(spark):
    """added/deleted/changed per workNodeDiff semantics; unchanged omitted."""
    from crawler_spark.pipeline.frontier import snapshot_diff

    old = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "key string, payload long"
    )
    new = spark.createDataFrame(
        [("b", 2), ("c", 9), ("d", 4)], "key string, payload long"
    )
    got = {r["key"]: r["change"] for r in snapshot_diff(old, new).collect()}
    assert got == {"a": "deleted", "c": "changed", "d": "added"}


def test_resolve_redirects_chain_and_cycle(spark):
    """A 5-hop chain resolves with exact hop counts; a 3-cycle is flagged
    looped; a fan-in (two aliases -> one target) resolves both."""
    from crawler_spark.pipeline.frontier import resolve_redirects

    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(5)]  # chain c0..c5
        + [("x", "y"), ("y", "z"), ("z", "x")]     # cycle
        + [("a1", "t"), ("a2", "t")]               # fan-in to terminal t
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["src"]: (r["final"], r["hops"], r["looped"]) for r in resolve_redirects(df).collect()}
    for i in range(5):
        assert got[f"c{i}"] == ("c5", 5 - i, False)
    assert got["a1"] == ("t", 1, False)
    assert got["a2"] == ("t", 1, False)
    for n in ("x", "y", "z"):
        assert got[n][2] is True  # cycle flagged, never "resolved"


def test_bloom_audit_no_false_negatives_and_sane_fpr(spark):
    """Probing the BUILD set itself must report 100% hits (the no-false-
    negative contract); a disjoint probe set reports a small FPR at this
    load factor."""
    from pyspark.sql import functions as F

    from crawler_spark.pipeline.frontier import bloom_fpr_audit

    keys = spark.range(2000).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    self_probe = bloom_fpr_audit(keys, keys, m_bits=1 << 16, k_hashes=5).collect()[0]
    assert self_probe["n_false_pos"] == self_probe["n_probe"]  # all "hits"
    other = spark.range(2000).select(F.concat(F.lit("q"), F.col("id")).alias("key"))
    audit = bloom_fpr_audit(keys, other, m_bits=1 << 16, k_hashes=5).collect()[0]
    # 10k positions in 65536 bits -> ~14% fill -> FPR ~ 0.14^5 ~ 5e-5
    assert audit["fpr_bp"] <= 50
    assert audit["n_bits_set"] <= 10000
    # an empty probe set has no false positives (not a division by zero)
    empty = bloom_fpr_audit(keys, other.limit(0), m_bits=1 << 16, k_hashes=5).first()
    assert (empty["n_probe"], empty["n_false_pos"], empty["fpr_bp"]) == (0, 0, 0)


def test_change_rate_estimate(spark):
    """Bias-reduced Poisson estimator: λ/day = 86400 · ln((2n+1)/(2(n−X)+1))
    · n / span; no-history and zero-span URLs get NULL."""
    import math

    from crawler_spark.pipeline.frontier import change_rate_estimate

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # url 1: 5 fetches 100s apart, changes observed at fetches 2 and 4
        (1, t0, 10, False),
        (1, t0 + dt.timedelta(seconds=100), 11, True),
        (1, t0 + dt.timedelta(seconds=200), 12, False),
        (1, t0 + dt.timedelta(seconds=300), 13, True),
        (1, t0 + dt.timedelta(seconds=400), 14, False),
        # url 2: single fetch -> no observations
        (2, t0, 20, True),
        # url 3: two fetches at the same instant -> zero span
        (3, t0, 30, False),
        (3, t0, 31, True),
    ]
    hist = spark.createDataFrame(
        rows, "url_id long, ts timestamp, fetch_id long, changed boolean"
    )
    got = {r["url_id"]: r.asDict() for r in change_rate_estimate(hist).collect()}
    assert (got[1]["n_obs"], got[1]["n_changed"], got[1]["span_s"]) == (4, 2, 400)
    expect = round(86400.0 * math.log(9.0 / 5.0) * 4 / 400, 6)
    assert got[1]["lambda_per_day"] == expect
    assert got[2]["n_obs"] == 0 and got[2]["lambda_per_day"] is None
    assert got[3]["span_s"] == 0 and got[3]["lambda_per_day"] is None
    # the first fetch's changed flag is never an observation
    assert got[3]["n_changed"] == 1


def test_drain_plan(spark):
    """Budget = round_s div delay (min 1, default delay for unlisted
    hosts); rounds = ceil(backlog/budget); critical = on the makespan."""
    from crawler_spark.pipeline.frontier import drain_plan

    fr = spark.createDataFrame(
        [("h1",)] * 5 + [("h2",)] * 100 + [("h3",)] * 4 + [("h4",)] * 90,
        "host string",
    )
    delays = spark.createDataFrame(
        [("h1", 30), ("h3", 120), ("h4", 0)], "host string, crawl_delay_s long"
    )
    got = {
        r["host"]: (
            r["n_urls"], r["budget_per_round"], r["rounds_to_drain"], r["is_critical"]
        )
        for r in drain_plan(fr, delays, round_s=60, default_delay_s=1).collect()
    }
    assert got["h1"] == (5, 2, 3, False)     # 60//30 = 2/round
    assert got["h2"] == (100, 60, 2, False)  # default delay 1 -> 60/round
    assert got["h3"] == (4, 1, 4, True)      # 60//120 = 0 -> floor 1/round
    # "Crawl-delay: 0" = unthrottled -> fastest tier (delay 1), NOT an
    # error and NOT the 1-per-round floor
    assert got["h4"] == (90, 60, 2, False)


def test_change_rate_fuzz(spark):
    """Estimator equals the brute-force python computation over random
    histories (including single-fetch and zero-span URLs)."""
    import math
    import random

    from crawler_spark.pipeline.frontier import change_rate_estimate

    rnd = random.Random(17)
    t0 = dt.datetime(2024, 1, 1)
    rows, want = [], {}
    for url in range(20):
        n = rnd.randint(1, 8)
        ts = sorted(rnd.randint(0, 5000) for _ in range(n))
        flags = [rnd.random() < 0.4 for _ in range(n)]
        # fetch_id increases with i, so (ts, fetch_id) order == index order
        for i in range(n):
            rows.append((url, t0 + dt.timedelta(seconds=ts[i]), url * 100 + i, flags[i]))
        n_obs = n - 1
        changed = sum(flags[1:])
        span = ts[-1] - ts[0]
        lam = (
            round(86400.0 * math.log((2 * n_obs + 1) / (2 * (n_obs - changed) + 1))
                  * n_obs / span, 6)
            if n_obs > 0 and span > 0 else None
        )
        want[url] = (n_obs, changed, span, lam)
    hist = spark.createDataFrame(
        rows, "url_id long, ts timestamp, fetch_id long, changed boolean"
    )
    got = {
        r["url_id"]: (r["n_obs"], r["n_changed"], r["span_s"], r["lambda_per_day"])
        for r in change_rate_estimate(hist).collect()
    }
    assert got == want


def test_revisit_bandwidth_plan(spark):
    """Interval = exact mean_interval / p-hat clamped to [min, max]; cold
    URLs (no usable history) get the max interval and are counted."""
    from crawler_spark.pipeline.frontier import revisit_bandwidth

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # url 1: 3 fetches 1000s apart, 2 changes -> raw = 2000*5//(2*5)=1000
        #        -> clamps UP to min 3600
        (1, t0, 1, False),
        (1, t0 + dt.timedelta(seconds=1000), 2, True),
        (1, t0 + dt.timedelta(seconds=2000), 3, True),
        # url 2: 2 fetches 40000s apart, 0 changes -> raw = 40000*3//1
        #        = 120000 -> within [3600, 604800]
        (2, t0, 4, False),
        (2, t0 + dt.timedelta(seconds=40000), 5, False),
        # url 3: single fetch -> cold -> max interval
        (3, t0, 6, True),
    ]
    hist = spark.createDataFrame(
        rows, "url_id long, ts timestamp, fetch_id long, changed boolean"
    )
    hosts = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "url_id long, host string"
    )
    got = {r["host"]: r.asDict() for r in revisit_bandwidth(hist, hosts).collect()}
    # host a: url1 interval 3600 (24/day), url2 interval 120000 (0/day)
    assert got["a"] == {
        "host": "a", "n_urls": 2, "n_cold": 0,
        "fetches_per_day": 86400 // 3600 + 86400 // 120000,
        "min_interval_s_host": 3600,
    }
    assert got["b"] == {
        "host": "b", "n_urls": 1, "n_cold": 1,
        "fetches_per_day": 0, "min_interval_s_host": 604800,
    }


def test_cuckoo_audit_no_false_negatives_and_sane_fpr(spark):
    """The cuckoo membership model must never miss a build key (probe
    the build set itself -> every key positive: n_false_pos == n_probe
    when probe == build, since each key's own (i1, fp) slot is stored),
    and on a disjoint probe set the measured FPR must be positive but
    far below the Bloom-equivalent saturation — the 2b/2^f regime
    (here ~2*2000/16384 buckets occupancy x 2/255 fp match ~ tens of
    bp, assert < 500 bp)."""
    from pyspark.sql import functions as F

    from crawler_spark.pipeline.frontier import cuckoo_fpr_audit

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    build = o.select(
        F.concat(F.lit("b"), F.col("o_orderkey").cast("string")).alias("key")
    )
    probe = o.select(
        F.concat(F.lit("p"), F.col("o_orderkey").cast("string")).alias("key")
    )
    self_row = cuckoo_fpr_audit(build, build, m_buckets=1 << 14, f_bits=8).first()
    assert self_row["n_false_pos"] == self_row["n_probe"]  # no false negatives
    row = cuckoo_fpr_audit(build, probe, m_buckets=1 << 14, f_bits=8).first()
    assert row["n_probe"] > 0 and row["n_slots"] <= row["n_build"]
    assert 0 <= row["fpr_bp"] < 500, row
    empty = cuckoo_fpr_audit(build, probe.limit(0), m_buckets=1 << 14, f_bits=8).first()
    assert (empty["n_probe"], empty["n_false_pos"], empty["fpr_bp"]) == (0, 0, 0)
