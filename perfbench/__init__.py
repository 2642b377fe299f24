"""Crawl-engine benchmark: seeded workloads, end-to-end and per-layer metrics.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See
``perfbench/README.md`` for the workloads, the metrics and how to read them.
"""
