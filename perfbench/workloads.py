"""The benchmark's workloads.

Each workload builds its seeded inputs, warms the process up where a
warm-up is cheaper than a timed pass (counted in set-up, never timed), runs
its timed operations until ``--seconds`` have passed (whole operations
only), then checks the program's outputs against a reference computed
outside the timer.

- ``golden_rounds``: the 111-URL oracle fixture, snapshot frontier, Bloom
  forced on; one timed operation is a full crawl. Per-round fixed cost
  (planning, ~40 small jobs) is nearly all of its wall. Not in
  ``BENCHMARK.json``: one run takes about 90 s.
- ``steady_seen``: a delta-mode frontier whose ``seen`` table is preloaded
  with as many keys as the frontier has rows, half of them frontier keys;
  one timed operation is one budget-bound round. Loads the seen anti-join,
  the Bloom pre-filter, the pruned pop and the delta writes.
- ``curation_queries``: nine gated queries of ``__spark_entry__`` over
  seeded tables; one timed operation is one query whose result is written
  to parquet. Checked against each query's DuckDB oracle.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import host, inputs
from .spark_trace import CallRecorder

GOLDEN_WARM_ROUNDS = 2

STEADY_FRONTIER = 100_000  # frontier rows; the seen preload has as many keys
STEADY_BUDGET = 2_000  # URLs per round
STEADY_MIN_ROUNDS = 1
STEADY_MAX_ROUNDS = 4  # the rendered corpus covers this many timed rounds
# the engine's default Bloom load (2^22 bits for 10^6 seen keys, ~16% false
# positives) scaled down to this seen size
STEADY_BLOOM_BITS = STEADY_FRONTIER * (1 << 22) // 1_000_000 // 8 * 8

CURATION_SCALE = 0.1  # 500 documents, 15k orders, ~60k lineitems, 500 vectors
# pipeline_clean is left out: it alone would take a third of a run (17 s
# cold, 6 s warm), and its stages are the dedup queries below
CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_clusters",
    "graph_components",
    "graph_components_twophase",
    "dedup_simhash",
    "docs_interleave_pack",
    "sim_ann_ivf",
    "text_lang_id",
    "crawl_url_features",
)
INPUT_REPS = 3  # input builds per run; set-up counts their median


@dataclass
class Outcome:
    """What a workload measured. ``op_walls``: seconds per timed operation;
    ``units``: work done in the timed windows (URLs fetched+deduped, or
    queries); ``windows``: (start, end) epoch pairs of the timed sections."""

    op_walls: list[float] = field(default_factory=list)
    units: int = 0
    windows: list[tuple[float, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0  # timed operations that raised or failed their check
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def timed_wall(self) -> float:
        return sum(hi - lo for lo, hi in self.windows)

    def raised(self, ctx: Ctx, what: str, e: Exception) -> None:
        """Record a timed operation that raised; the run goes on to report."""
        ctx.quiet()
        traceback.print_exc(file=sys.stderr)
        self.failed += 1
        self.errors.append(f"{what} raised {type(e).__name__}: {e}")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    jvm_pid: int
    rec: CallRecorder | None  # set in traced runs
    session_s: float = 0.0
    input_reps: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    t_first_timed: float | None = None
    t_last_timed: float | None = None
    worker_cpu_s: float = 0.0

    def quiet(self) -> None:
        """Clear the job description before the benchmark's own jobs, so
        they are never charged to the engine phase that ran last."""
        self.spark.sparkContext.setJobDescription(None)

    def build_inputs(self, build):
        """Run ``build(dir)`` INPUT_REPS times into fresh directories; keep
        the last result and the wall of each build."""
        import shutil

        res = path = None
        for k in range(INPUT_REPS):
            if path:
                shutil.rmtree(path, ignore_errors=True)
            path = os.path.join(self.work, f"inputs{k}")
            os.makedirs(path)
            self.quiet()
            t0 = time.perf_counter()
            res = build(path)
            self.input_reps.append(time.perf_counter() - t0)
        return res, path

    def warm(self, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.quiet()
        self.warmup_s = time.perf_counter() - t0

    def timed(self, fn):
        """Run ``fn`` as one timed section; returns (result, start, end)."""
        cpu0 = host.python_worker_cpu_s(self.jvm_pid) if self.rec else 0.0
        lo = time.time()
        if self.t_first_timed is None:
            self.t_first_timed = lo
        res = fn()
        hi = self.t_last_timed = time.time()
        self.quiet()
        if self.rec:
            self.worker_cpu_s += host.python_worker_cpu_s(self.jvm_pid) - cpu0
        return res, lo, hi

    def elapsed(self) -> float:
        return time.time() - self.t_first_timed


# ----------------------------------------------------------------- crawls


def _engine_targets():
    """Public calls the traced run wraps: the state layer, and the Bloom
    operators under the names the engine calls them by."""
    from crawler_spark import engine
    from crawler_spark.state import SnapshotStore

    state = [
        (SnapshotStore, m, f"state.{m}", False)
        for m in ("append", "append_local", "write_frontier", "commit", "read_through")
    ]
    return state + [
        (engine, "build_bloom", "dedup.bloom_build", True),
        (engine, "or_blooms", "dedup.or_blooms", True),
    ]


def _run_rounds(ctx: Ctx, eng, max_rounds: int):
    """One timed ``eng.run``; returns (stats, per-round walls, lo, hi)."""
    walls: list[float] = []
    mark = [0.0]

    def on_round(_man):
        now = time.perf_counter()
        walls.append(now - mark[0])
        mark[0] = now

    def go():
        mark[0] = time.perf_counter()
        return eng.run(max_rounds=max_rounds, on_round=on_round)

    if ctx.rec:
        with ctx.rec.patch(_engine_targets()):
            stats, lo, hi = ctx.timed(go)
    else:
        stats, lo, hi = ctx.timed(go)
    return stats, walls, lo, hi


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names)


def _crawl_layers(ctx: Ctx, out: Outcome, stats, eng, written_bytes: int) -> dict:
    """Per-layer metrics of a crawl workload that come from wrapped calls,
    RoundStats and the state on disk (the status-store part is added by
    the caller for every workload)."""
    import numpy as np

    from crawler_spark.operators import dedup

    rec = ctx.rec
    lay: dict[str, float] = {}
    for m in ("append", "append_local", "write_frontier", "commit", "read_through"):
        lay[f"state.{m}.s"] = rec.seconds.get(f"state.{m}", 0.0)
        lay[f"state.{m}.calls"] = rec.calls.get(f"state.{m}", 0)
    lay["state.written_mb"] = written_bytes / (1 << 20)
    lay["state.bytes_per_url"] = written_bytes / out.units if out.units else 0.0
    man = eng.store.manifest(eng.store.latest_round())
    live = sum((man.get("frontier_counts") or {}).values())
    raw = man.get("frontier_raw", live)
    lay["state.frontier_raw_live_ratio"] = raw / live if live else 1.0
    bloom = rec.last_result
    fill = float(np.unpackbits(np.frombuffer(bloom, np.uint8)).mean()) if bloom else 0.0
    lay["dedup.bloom_build.s"] = rec.seconds.get("dedup.bloom_build", 0.0)
    lay["dedup.bloom_fill"] = fill
    lay["dedup.bloom_fpr_est"] = fill ** dedup._K_HASHES
    lay["dedup.seen_rows"] = man.get("seen_count", 0)
    for f in ("selected", "fetched_ok", "failed", "new_links", "items"):
        lay[f"engine.rows.{f}"] = sum(getattr(s, f) for s in stats)
    sel = lay["engine.rows.selected"]
    lay["engine.fetch_ok_ratio"] = lay["engine.rows.fetched_ok"] / sel if sel else 0.0
    return lay


def golden_rounds(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from crawler_spark.engine import CrawlEngine
    from crawler_spark.fixtures import make_fixture, write_fixture
    from crawler_spark.operators.fetch import GraphFetcher
    from crawler_spark.oracle import run_oracle

    spark = ctx.spark

    def build(d):
        fx = make_fixture()
        write_fixture(fx, d, spark)
        return fx

    fx, fx_dir = ctx.build_inputs(build)
    web = spark.read.parquet(f"{fx_dir}/web_graph")
    seeds = spark.read.parquet(f"{fx_dir}/seeds")

    def engine(name):
        eng = CrawlEngine(
            spark, os.path.join(ctx.work, name), GraphFetcher(web),
            fx.tasks, fx.rules, fx.robots, fx.round_s,
            bloom_min_seen=1,  # force the Bloom path, as the golden test does
        )
        eng.init_state(seeds)
        ctx.quiet()
        return eng

    ctx.warm(lambda: engine("warm").run(max_rounds=GOLDEN_WARM_ROUNDS))

    out = Outcome()
    all_stats, engines = [], []
    while not out.op_walls or ctx.elapsed() < ctx.seconds:
        eng = engine(f"state{len(engines)}")
        before = _dir_bytes(eng.store.root)
        out.attempted += 1
        try:
            stats, walls, lo, hi = _run_rounds(ctx, eng, 10_000)
        except Exception as e:  # a crashed crawl is a failed operation
            out.raised(ctx, "crawl", e)
            break
        engines.append((eng, _dir_bytes(eng.store.root) - before))
        all_stats += stats
        out.op_walls += walls
        out.units += sum(s.selected for s in stats)
        out.windows.append((lo, hi))

    oracle = run_oracle(fx.seeds, fx.web_graph, fx.tasks, fx.rules, fx.robots, fx.round_s)
    want_order = [(u, rd) for _, u, rd in oracle.order]
    want_docs = dict(oracle.documents)
    for k, (eng, _) in enumerate(engines):
        rnd = eng.store.latest_round()
        got_order = [
            (r["curl"], r["round"])
            for r in eng.store.read_through("order", rnd)
            .orderBy("round", F.desc("priority"), "seq")
            .select("curl", "round")
            .collect()
        ]
        seen = {r["key"] for r in eng.store.read_through("seen", rnd).select("key").collect()}
        docs = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in eng.store.read_through("documents", rnd).collect()
        }
        bad = [
            what
            for what, same in (
                ("crawl order", got_order == want_order),
                ("seen set", seen == oracle.seen),
                ("span documents", docs == want_docs),
            )
            if not same
        ]
        if bad:
            out.failed += 1
            out.errors.append(f"crawl {k}: {', '.join(bad)} differ from the oracle")
    if ctx.rec and engines:
        out.layers = _crawl_layers(ctx, out, all_stats, engines[-1][0], sum(b for _, b in engines))
    return out


def steady_seen(ctx: Ctx) -> Outcome:
    import pyarrow.parquet as pq

    from crawler_spark.engine import CrawlEngine
    from crawler_spark.fixtures_big import bench_tasks_rules_robots
    from crawler_spark.operators.fetch import GraphFetcher

    spark = ctx.spark
    # round 1 pops the initial carry of two budgets (warm-up); the corpus
    # covers it plus the timed rounds
    n_pages = STEADY_BUDGET * (STEADY_MAX_ROUNDS + 2)

    def build(d):
        inp = inputs.steady_inputs(ctx.seed, STEADY_FRONTIER)
        pq.write_table(inp.frontier_table(), f"{d}/frontier.parquet")
        pq.write_table(inp.seen_table(), f"{d}/seen.parquet")
        pq.write_table(inputs.book_pages(inp.pop_order()[:n_pages]), f"{d}/pages.parquet")
        return inp

    inp, d = ctx.build_inputs(build)
    url = f"concat('{inputs.BOOKS}/book/', id)"
    frontier = spark.read.parquet(f"{d}/frontier.parquet").selectExpr(
        f"{url} AS url", f"{url} AS curl", "'books.example.com' AS host",
        "'GET' AS method", f"md5(concat({url}, 'GET')) AS key",
        "'book_task' AS task", "'detail' AS rule", "CAST(0 AS INT) AS depth",
        "CAST(100 AS INT) AS priority", "seq", "CAST(0 AS INT) AS attempt",
        "CAST(map() AS map<string,string>) AS tmp",
    )
    preload = spark.read.parquet(f"{d}/seen.parquet").selectExpr(
        f"md5(concat({url}, 'GET')) AS key", f"{url} AS url", "CAST(0 AS INT) AS round"
    )
    tasks, rules, robots = bench_tasks_rules_robots(task_budget_per_round=STEADY_BUDGET)
    eng = CrawlEngine(
        spark, os.path.join(ctx.work, "state"),
        GraphFetcher(spark.read.parquet(f"{d}/pages.parquet")),
        tasks, rules, robots, round_s=60, frontier_mode="delta",
        bloom_bits=STEADY_BLOOM_BITS,
    )

    def warm():
        eng.init_state(frontier)
        ctx.quiet()
        eng.store.append("seen", 0, preload)
        man = eng.store.manifest(0)
        eng.store.commit(0, {**man, "seen_count": len(inp.seen_ids)})
        warm_stats.extend(eng.run(max_rounds=1))

    warm_stats: list = []
    ctx.warm(warm)

    out = Outcome()
    stats: list = []
    before = _dir_bytes(eng.store.root)
    while len(stats) < STEADY_MIN_ROUNDS or (
        ctx.elapsed() < ctx.seconds and len(stats) < STEADY_MAX_ROUNDS
    ):
        out.attempted += 1
        try:
            st, walls, lo, hi = _run_rounds(ctx, eng, 1)
        except Exception as e:
            out.raised(ctx, "round", e)
            break
        stats += st
        out.op_walls += walls
        out.units += sum(s.selected for s in st)
        out.windows.append((lo, hi))
    written = _dir_bytes(eng.store.root) - before

    # reference: the next unseen rows by (-priority, seq), round by round;
    # failed fetches go back to the frontier behind every original row
    pop = inp.pop_order()
    seen_pre = set(inp.seen_ids.tolist())
    popped: dict[int, list[int]] = {}
    for r in (
        eng.store.read_through("order", eng.store.latest_round())
        .select("round", "seq", "curl")
        .orderBy("round", "seq")
        .collect()
    ):
        popped.setdefault(r["round"], []).append(int(r["curl"].rsplit("/", 1)[1]))
    offset = 0
    for is_timed, s in [(False, s) for s in warm_stats] + [(True, s) for s in stats]:
        want = [int(i) for i in pop[offset : offset + s.selected]]
        offset += s.selected
        got = popped.pop(s.round, [])
        ok = sum(inputs.page_ok(i) for i in want)
        bad = []
        if got != want:
            bad.append("pop order differs from the unseen rows by seq")
        if seen_pre.intersection(got):
            bad.append("a preloaded seen key was popped")
        if (s.fetched_ok, s.failed) != (ok, s.selected - ok):
            bad.append(f"fetched_ok/failed {s.fetched_ok}/{s.failed}, want {ok}/{s.selected - ok}")
        if bad:
            out.failed += is_timed
            out.errors.append(f"round {s.round}: " + "; ".join(bad))
    if popped:
        out.errors.append(f"order table has rows for rounds without stats: {sorted(popped)}")
    if ctx.rec:
        out.layers = _crawl_layers(ctx, out, stats, eng, written)
    return out


# ---------------------------------------------------------------- queries


def _normalize(df):
    """Order-insensitive, type-normalised frame (as tools/check_oracles.py
    compares Spark results with their DuckDB oracles)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: str(v))
        elif str(s.dtype).startswith("float"):
            df[c] = s.round(6)
        elif str(s.dtype).startswith(("int", "uint", "Int")):
            df[c] = s.astype("int64")
        elif str(s.dtype) == "bool":
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def curation_queries(ctx: Ctx) -> Outcome:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    spark = ctx.spark
    queries = entry.queries()

    def write_tables(d, scale):
        for name, table in inputs.curation_tables(ctx.seed, scale).items():
            pq.write_table(table, f"{d}/{name}.parquet")

    _, sf = ctx.build_inputs(lambda d: write_tables(d, CURATION_SCALE))

    def warm():
        # the same plans over tables a tenth the size: JIT, codegen and the
        # Python worker pool warm up; planning and job overhead, not data,
        # set these queries' time, so this costs most of a cold pass
        d = os.path.join(ctx.work, "warm")
        os.makedirs(d)
        write_tables(d, CURATION_SCALE / 10)
        for q in CURATION_QUERIES:
            queries[q](spark, d).write.format("noop").mode("overwrite").save()

    ctx.warm(warm)

    out = Outcome()
    walls: dict[str, list[float]] = {q: [] for q in CURATION_QUERIES}
    raised: set[str] = set()
    res_dir = os.path.join(ctx.work, "results")
    while not out.op_walls or ctx.elapsed() < ctx.seconds:
        for q in CURATION_QUERIES:
            out.attempted += 1
            try:
                # a parquet write materialises every column like a noop
                # write, and leaves the result for the check
                _, lo, hi = ctx.timed(
                    lambda q=q: queries[q](spark, sf).write.mode("overwrite").parquet(f"{res_dir}/{q}")
                )
            except Exception as e:
                out.raised(ctx, q, e)
                raised.add(q)
                continue
            walls[q].append(hi - lo)
            out.op_walls.append(hi - lo)
            out.units += 1
            out.windows.append((lo, hi))

    con = duckdb.connect()
    for t in os.listdir(sf):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{sf}/{t}')")
    oracles = entry.oracle_sql()
    for q in CURATION_QUERIES:
        if q in raised:
            continue
        got = _normalize(spark.read.parquet(f"{res_dir}/{q}").toPandas())
        want = _normalize(con.execute(oracles[q]).df())
        if list(got.columns) != list(want.columns) or len(got) != len(want) or not got.equals(want):
            # every timed execution of a wrong query is a failed operation
            out.failed += len(walls[q])
            out.errors.append(f"{q}: result differs from its DuckDB oracle")
        elif len(got) == 0:
            out.failed += len(walls[q])
            out.errors.append(f"{q}: empty result")
    con.close()
    if ctx.rec:
        out.layers = {f"pipeline.{q}.s": statistics.median(w) if w else 0.0 for q, w in walls.items()}
    return out


WORKLOADS = {
    "golden_rounds": golden_rounds,
    "steady_seen": steady_seen,
    "curation_queries": curation_queries,
}
