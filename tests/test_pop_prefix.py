"""Unit tests for the pruned pop's bucket choice (engine._select_pop_prefix).

Bucket metadata is hand-built in the manifest's shape: per task,
{"<priority>:<bucket>": rows} written, and the rows each bucket has lost to
earlier waves. The returned predicate is evaluated over every bucket
coordinate, so each test states exactly which base directories a round
would read.
"""

from __future__ import annotations

from crawler_spark.engine import _select_pop_prefix


def _meta(raw, consumed=None):
    return {"size": 10, "raw": raw, "consumed": consumed or {}}


def _chosen(spark, bmeta, pred):
    """The (task, priority, _pbkt) coordinates of ``bmeta`` that ``pred``
    selects."""
    coords = [
        (task, int(pb.split(":")[0]), int(pb.split(":")[1]))
        for task, buckets in bmeta["raw"].items()
        for pb in buckets
    ]
    df = spark.createDataFrame(coords, "task string, priority int, _pbkt int")
    return {tuple(r) for r in df.filter(pred).collect()}


def test_consumed_leading_buckets_are_skipped(spark):
    # pop order of task a: priority 5 buckets 0, 1, 2, then priority 1;
    # bucket 5:0 was fully taken by earlier waves
    bmeta = _meta(
        {"a": {"5:0": 10, "5:1": 10, "5:2": 10, "1:0": 10}, "b": {"3:0": 4}},
        consumed={"a": {"5:0": 10}},
    )
    pred, partial = _select_pop_prefix(bmeta, {"a": 15, "b": 100})
    assert _chosen(spark, bmeta, pred) == {("a", 5, 1), ("a", 5, 2), ("b", 3, 0)}
    # a's priority-1 bucket is live but unread; b's only bucket was read
    assert partial == {"a": True, "b": False}


def test_unchosen_live_bucket_in_same_priority_is_partial(spark):
    bmeta = _meta({"a": {"5:0": 10, "5:1": 10, "5:2": 10}})
    pred, partial = _select_pop_prefix(bmeta, {"a": 5})
    assert _chosen(spark, bmeta, pred) == {("a", 5, 0)}
    assert partial == {"a": True}


def test_every_live_bucket_chosen_gives_no_predicate():
    bmeta = _meta({"a": {"5:0": 10, "1:0": 10}, "b": {"3:0": 4}})
    pred, partial = _select_pop_prefix(bmeta, {"a": 20, "b": 4})
    assert pred is None
    assert partial == {"a": False, "b": False}


def test_no_live_base_row_selects_nothing(spark):
    bmeta = _meta(
        {"a": {"5:0": 10, "5:1": 3}},
        consumed={"a": {"5:0": 10, "5:1": 3}},
    )
    pred, partial = _select_pop_prefix(bmeta, {"a": 100})
    assert pred is not None and "false" in str(pred).lower()
    assert _chosen(spark, bmeta, pred) == set()
    assert partial == {"a": False}
