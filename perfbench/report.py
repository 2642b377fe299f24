#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/report.py --seeds 1-10 [--workloads a b] [--trace 0|1|both]
                                [--seconds S] [--out runs.json]

For every workload and metric it prints the sample count, the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread: the
interquartile range as a share of the median. End-to-end spreads are checked
against a third of each metric's bound in ``BENCHMARK.json`` (``setup_s``
excepted). With ``--trace both`` it also reports ``trace_overhead_ratio``:
how much slower ``units_per_s`` is with tracing on than off. Runs go one at
a time, so they never compete for the host.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(cfg: dict, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = cfg["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: no result (exit {p.returncode})")
    info = json.loads(lines[-2])["perfbench"] if len(lines) > 1 else {}
    return {"seed": seed, "trace": trace, "exit": p.returncode, "result": result, "info": info}


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {
        "n": len(values), "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / abs(med) if med else 0.0,
    }


def summarise(runs: list[dict]) -> dict:
    """{workload: {trace: {metric: summary}}}"""
    vals: dict = {}
    for r in runs:
        for name, m in r["result"]["metrics"].items():
            vals.setdefault(r["workload"], {}).setdefault(str(r["trace"]), {}).setdefault(
                name, []
            ).append(m["value"])
    return {
        w: {t: {n: summary(v) for n, v in ms.items()} for t, ms in by_t.items()}
        for w, by_t in vals.items()
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    workloads = args.workloads or [w["name"] for w in cfg["workloads"]]
    seconds = args.seconds or cfg["run_seconds"]
    traces = (0, 1) if args.trace == "both" else (int(args.trace),)
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}

    runs = []
    for w in workloads:
        for seed in args.seeds:
            for t in traces:
                r = run_once(cfg, w, seed, seconds, t)
                r["workload"] = w
                runs.append(r)
                res = r["result"]
                print(
                    f"# {w} seed={seed} trace={t} exit={r['exit']} correct={res['correct']} "
                    f"attempted={res['attempted']} failed={res['failed']} "
                    f"total={r['info'].get('phases', {}).get('total_s', 0):.1f}s",
                    file=sys.stderr, flush=True,
                )
    summ = summarise(runs)
    ok = all(r["result"]["correct"] and r["exit"] == 0 for r in runs)
    for w, by_t in summ.items():
        for t, ms in by_t.items():
            print(f"\n{w} (trace {t})")
            for name, s in ms.items():
                flag = ""
                if t == "0" and name in bounds and name != "setup_s":
                    steady = s["spread"] < bounds[name] / 3
                    flag = "" if steady else f"  spread above a third of bound {bounds[name]}"
                print(
                    f"  {name:40s} n={s['n']:<3d} median={s['median']:<12.5g} "
                    f"q1={s['q1']:<12.5g} q3={s['q3']:<12.5g} spread={s['spread']:.3f}{flag}"
                )
        if "0" in by_t and "1" in by_t:
            off = by_t["0"]["units_per_s"]["median"]
            on = by_t["1"]["trace.units_per_s"]["median"]
            ratio = 1 - on / off if off else 0.0
            summ[w]["trace_overhead_ratio"] = ratio
            print(f"  {'trace_overhead_ratio':40s} {ratio:.4f}")
            print(f"  {'engine.attributed_share':40s} {by_t['1']['engine.attributed_share']['median']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"benchmark": cfg, "runs": runs, "summary": summ}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
