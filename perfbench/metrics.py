"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` lists the same metrics; ``test_perfbench.py`` keeps the
two in step.
"""

from __future__ import annotations

from .spark_trace import PHASE_NAMES
from .workloads import CURATION_QUERIES

# (name, unit, better, worsening bound as a share of the parent's median)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("units_per_s", "1/s", "higher", 0.24),
    ("peak_rss_mb", "MB", "lower", 0.2),
)

_PHASE_UNITS = {
    "busy_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
}
_STATE_CALLS = ("append", "append_local", "write_frontier", "commit", "read_through")

# (name, unit, better)
PER_LAYER = (
    *(
        (f"engine.{p}.{f}", unit, better)
        for p in PHASE_NAMES
        for f, (unit, better) in _PHASE_UNITS.items()
    ),
    ("engine.driver_gap_s", "s", "lower"),
    ("engine.jobs_per_round", "count", "lower"),
    ("engine.attributed_share", "ratio", "higher"),
    *((f"engine.rows.{f}", "count", "higher") for f in ("selected", "fetched_ok", "failed", "new_links", "items")),
    ("engine.fetch_ok_ratio", "ratio", "higher"),
    *((f"state.{m}.s", "s", "lower") for m in _STATE_CALLS),
    *((f"state.{m}.calls", "count", "lower") for m in _STATE_CALLS),
    ("state.written_mb", "MB", "lower"),
    ("state.bytes_per_url", "B", "lower"),
    ("state.frontier_raw_live_ratio", "ratio", "lower"),
    ("dedup.bloom_build.s", "s", "lower"),
    ("dedup.bloom_fill", "ratio", "lower"),
    ("dedup.bloom_fpr_est", "ratio", "lower"),
    ("dedup.seen_rows", "count", "higher"),
    ("python.worker_cpu_s", "s", "lower"),
    *((f"pipeline.{q}.s", "s", "lower") for q in CURATION_QUERIES),
    ("setup.session_s", "s", "lower"),
    ("setup.corpus_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("trace.units_per_s", "1/s", "higher"),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
