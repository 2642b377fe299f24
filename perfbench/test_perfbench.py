"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import subprocess
import sys
import threading

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.spark_trace import (
    PHASE_FIELDS,
    PHASE_NAMES,
    PHASES,
    CallRecorder,
    Job,
    Stage,
    StatusStore,
    UnmappedLabel,
    clip,
    engine_breakdown,
    phase_of,
    union_seconds,
)
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------- interval union


@pytest.mark.parametrize(
    "intervals, want",
    [
        ([], 0.0),
        ([(0, 1)], 1.0),
        ([(0, 1), (2, 4)], 3.0),  # disjoint
        ([(0, 3), (1, 2)], 3.0),  # nested
        ([(0, 2), (1, 3)], 3.0),  # overlapping
        ([(0, 1), (1, 2)], 2.0),  # touching
        ([(5, 6), (0, 2), (1, 3)], 4.0),  # unsorted
    ],
)
def test_union_seconds(intervals, want):
    assert union_seconds(intervals) == pytest.approx(want)


def test_union_never_exceeds_sum_or_span():
    rng = np.random.default_rng(0)
    for _ in range(50):
        starts = rng.uniform(0, 10, size=8)
        iv = [(s, s + d) for s, d in zip(starts, rng.uniform(0, 3, size=8))]
        u = union_seconds(iv)
        assert u <= sum(e - s for s, e in iv) + 1e-9
        assert u <= max(e for _, e in iv) - min(s for s, _ in iv) + 1e-9


def test_clip_cuts_to_window():
    assert clip([(0, 5), (6, 8), (9, 12), (20, 30)], 4, 10) == [(4, 5), (6, 8), (9, 10)]


# ------------------------------------------------------ label -> phase


def test_every_engine_label_maps():
    assert phase_of("r3:cand(expire+dedup)") == "cand"
    assert phase_of("r12:frontier-delta") == "frontier_write"
    assert phase_of("r1:frontier-snapshot") == "frontier_write"
    assert phase_of("r0:python-pool-warmup") == "pool_warmup"
    for label, phase in PHASES.items():
        assert phase_of(f"r7:{label}") == phase


def test_unlabelled_jobs_have_no_phase():
    assert phase_of(None) is None
    assert phase_of("") is None
    assert phase_of("collect at perfbench") is None


def test_unknown_engine_label_fails_loudly():
    with pytest.raises(UnmappedLabel):
        phase_of("r2:wave(topk)-split")


def test_phases_cover_the_labels_in_the_engine_source():
    """A renamed or new phase label in the engine must be mapped here."""
    with open(os.path.join(ROOT, "crawler_spark", "engine.py")) as f:
        src = f.read()
    labels = set(re.findall(r'_desc\(\s*\w+,\s*"([^"]+)"', src))
    labels |= set(re.findall(r'self\._labeled,\s*\w+,\s*"([^"]+)"', src))
    assert labels, "no labels found; the pattern no longer matches the engine"
    assert labels <= set(PHASES), labels - set(PHASES)


# --------------------------------------------------- status-store math


def test_engine_breakdown_attributes_phases_and_driver_gap():
    store = StatusStore(
        jobs=[
            Job(0, "r1:cand(expire+dedup)", 100.0, 102.0, [0]),
            Job(1, "r1:write-deltas", 103.0, 105.0, [1]),
            Job(2, "r1:write-deltas", 104.0, 106.0, [2]),  # concurrent with job 1
            Job(3, None, 107.0, 108.0, [3]),  # unlabelled
            Job(4, "r0:python-pool-warmup", 90.0, 91.0, [4]),  # outside the window
        ],
        stages={
            0: Stage(4, 1.0, 0.1, 1 << 20, 0),
            1: Stage(2, 0.5, 0.0, 0, 2 << 20),
            2: Stage(2, 0.5, 0.0, 0, 0),
            3: Stage(1, 0.2, 0.0, 0, 0),
            4: Stage(4, 0.4, 0.0, 0, 0),
        },
    )
    b = engine_breakdown(store, [(100.0, 110.0)])
    assert b["cand.busy_s"] == pytest.approx(2.0)
    assert b["cand.tasks"] == 4 and b["cand.shuffle_mb"] == pytest.approx(1.0)
    assert b["write_deltas.busy_s"] == pytest.approx(3.0)  # union, not 4.0
    assert b["write_deltas.jobs"] == 2 and b["write_deltas.spill_mb"] == pytest.approx(2.0)
    assert b["pool_warmup.jobs"] == 0
    assert b["jobs"] == 4
    # busy: [100,102] [103,106] [107,108] = 6 s of 10
    assert b["driver_gap_s"] == pytest.approx(4.0)
    # labelled 5 s + gap 4 s; the unlabelled second is unattributed
    assert b["attributed_share"] == pytest.approx(0.9)
    assert set(b) == {f"{p}.{f}" for p in PHASE_NAMES for f in PHASE_FIELDS} | {
        "driver_gap_s", "jobs", "attributed_share"
    }


def test_engine_breakdown_sums_windows():
    store = StatusStore(jobs=[Job(0, "r1:accounting", 1.0, 2.0, []), Job(1, "r1:accounting", 11.0, 13.0, [])])
    b = engine_breakdown(store, [(0.0, 5.0), (10.0, 15.0)])
    assert b["accounting.busy_s"] == pytest.approx(3.0)
    assert b["driver_gap_s"] == pytest.approx(7.0)
    assert b["attributed_share"] == pytest.approx(1.0)


# ----------------------------------------------------- call recorder


def test_call_recorder_patches_and_restores():
    class Store:
        def append(self, x):
            return x + 1

    rec = CallRecorder()
    orig = Store.append
    with rec.patch([(Store, "append", "state.append", True)]):
        threads = [threading.Thread(target=lambda: Store().append(1)) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert Store().append(41) == 42
    assert Store.append is orig
    assert rec.calls["state.append"] == 9
    assert rec.last_result == 42


# ------------------------------------------------- seeded inputs


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_steady_inputs_are_seed_deterministic():
    a, b, c = (inputs.steady_inputs(s, 5000) for s in (7, 7, 8))
    assert _parquet_bytes(a.frontier_table()) == _parquet_bytes(b.frontier_table())
    assert _parquet_bytes(a.seen_table()) == _parquet_bytes(b.seen_table())
    assert not np.array_equal(a.seq, c.seq)
    assert not np.array_equal(a.seen_ids, c.seen_ids)
    assert len(a.seq) == len(c.seq) and len(a.seen_ids) == len(c.seen_ids) == 5000


def test_steady_pop_order_is_unseen_rows_by_seq():
    inp = inputs.steady_inputs(3, 2000)
    pop = inp.pop_order()
    seen = set(inp.seen_ids.tolist())
    assert len(pop) == 1000  # half of the frontier is preloaded
    assert not seen.intersection(pop.tolist())
    assert list(inp.seq[pop]) == sorted(inp.seq[pop])
    assert int((inp.seen_ids < inp.n).sum()) == 1000


def test_curation_tables_are_seed_deterministic():
    a, b, c = (inputs.curation_tables(s, 0.02) for s in (5, 5, 6))
    for name in a:
        assert _parquet_bytes(a[name]) == _parquet_bytes(b[name]), name
        assert not a[name].equals(c[name]), name
        assert a[name].num_rows == c[name].num_rows, name
    assert a["embeddings"].num_rows >= 267  # the IVF query's default centroids


def test_book_pages_follow_the_fetch_validity_rule():
    ids = list(range(400))
    pages = inputs.book_pages(ids).to_pylist()
    assert _parquet_bytes(inputs.book_pages(ids)) == _parquet_bytes(inputs.book_pages(ids))
    for i, p in zip(ids, pages):
        ok = p["status"] == 200 and len(p["body"]) >= 6000
        assert ok == inputs.page_ok(i)
        assert p["url"] == inputs.book_url(i)
    assert 0.9 < sum(map(inputs.page_ok, ids)) / len(ids) < 0.99


# ------------------------------------------------ BENCHMARK.json


def test_benchmark_json_matches_the_metrics_reported():
    cfg = _benchmark()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in cfg["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in cfg["per_layer"]] == [
        tuple(m) for m in PER_LAYER
    ]
    assert {w["name"] for w in cfg["workloads"]} <= set(WORKLOADS)


def test_benchmark_json_obeys_its_limits():
    cfg = _benchmark()
    assert set(cfg) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(cfg["workloads"]) <= 8 and 1 <= len(cfg["per_layer"]) <= 128
    names = [m["name"] for m in cfg["end_to_end"] + cfg["per_layer"]] + [
        w["name"] for w in cfg["workloads"]
    ]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in cfg["end_to_end"] + cfg["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert all(0 < m["bound"] <= 0.25 for m in cfg["end_to_end"])
    setup = next(m for m in cfg["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in cfg["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in cfg["workloads"])
    assert len(json.dumps(cfg)) <= 64 * 1024


def test_run_without_the_program_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    cfg = _benchmark()
    p = subprocess.run(
        [sys.executable, *cfg["command"][1:], "--workload", cfg["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
