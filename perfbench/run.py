#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the host, the raw per-operation
times and any check failures. The exit code is 0 only when every check
passed; without the program's sources (``crawler_spark/`` and
``__spark_entry__.py``) next to this directory it exits 2 before starting.

Everything the run writes goes to ``.perfbench_work/`` under the root and is
removed before it exits; the Spark driver and its Python workers are
stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, UNITS  # noqa: E402
from perfbench.spark_trace import CallRecorder, StatusStore, engine_breakdown, phase_of  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

CRAWLS = ("golden_rounds", "steady_seen")


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "crawler_spark", "engine.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def start_spark(work: str, name: str):
    """A session sized to this host: one task slot and one shuffle partition
    per CPU, driver heap from RAM, all scratch files under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the program from this checkout; nothing in the
    # environment may redirect Spark's scratch space or override the session
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    for var in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CONF", "SPARK_GRAFT_LOCAL_DIR"):
        os.environ.pop(var, None)
    from crawler_spark.session import get_spark

    slots = host.host_slots()
    spark = get_spark(
        f"perfbench-{name}",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.driver.memory": host.driver_memory(host.ram_bytes()),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, then the driver JVM, and wait for it and for every
    Python worker it started to exit."""
    from pyspark import SparkContext

    _, workers = host.spark_processes(jvm_pid)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in [jvm_pid, *workers]:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """False for processes that ended but wait to be reaped by their parent."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def layer_metrics(spark, ctx: Ctx, out, workload: str, units_per_s: float) -> dict:
    values = {name: 0.0 for name, *_ in PER_LAYER}
    values.update(out.layers)
    store = StatusStore.read(spark)
    for j in store.jobs:  # raises on an engine label with no phase
        phase_of(j.description)
    if workload in CRAWLS and out.windows:
        b = engine_breakdown(store, out.windows)
        jobs = b.pop("jobs")
        for k, v in b.items():
            values[f"engine.{k}"] = v
        values["engine.jobs_per_round"] = jobs / len(out.op_walls)
    values["python.worker_cpu_s"] = ctx.worker_cpu_s
    values["setup.session_s"] = ctx.session_s
    values["setup.corpus_s"] = statistics.median(ctx.input_reps)
    values["setup.warmup_s"] = ctx.warmup_s
    values["trace.units_per_s"] = units_per_s
    return values


def main(argv=None) -> int:
    t_proc = host.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = jvm_pid = None
    try:
        spark = start_spark(work, args.workload)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx = Ctx(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            jvm_pid=jvm_pid, rec=CallRecorder() if args.trace else None,
        )
        ctx.session_s = time.time() - t_proc
        out = WORKLOADS[args.workload](ctx)
        check_s = time.time() - (ctx.t_last_timed or ctx.t_first_timed)
        reps = ctx.input_reps
        # repeated input builds count once, at their median
        setup_s = (ctx.t_first_timed - t_proc) - (sum(reps) - statistics.median(reps))
        units_per_s = out.units / out.timed_wall if out.timed_wall else 0.0
        if args.trace:
            values = layer_metrics(spark, ctx, out, args.workload, units_per_s)
        else:
            values = {
                "setup_s": setup_s,
                "units_per_s": units_per_s,
                "peak_rss_mb": host.peak_rss_mb(jvm_pid),
            }
        info = host.host_info(ROOT, spark.version)
    finally:
        t_stop = time.time()
        if spark is not None:
            stop_spark(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)
    phases = {
        "session_s": ctx.session_s,
        "inputs_s": reps,
        "warmup_s": ctx.warmup_s,
        "timed_s": out.timed_wall,
        "check_s": check_s,
        "stop_s": time.time() - t_stop,
        "total_s": time.time() - t_proc,
    }

    names = [n for n, *_ in (PER_LAYER if args.trace else END_TO_END)]
    correct = not out.errors
    print(json.dumps({
        "perfbench": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": info, "session": {"master": f"local[{info['nproc']}]",
                                      "driver_memory": host.driver_memory(host.ram_bytes())},
            "op_walls_s": out.op_walls, "units": out.units,
            "phases": phases, "errors": out.errors,
        }
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": values[n], "unit": UNITS[n]} for n in names},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
