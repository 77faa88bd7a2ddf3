"""Repository benchmark: the 1BRC flagship over generated text, and the
headline registry mix over the seeded sf0.01 parquet fixture.

    python3 perfbench/run.py --workload flagship_text --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts one SparkSession through
`onebrc_spark.session.get_spark`, makes its inputs (the flagship text, or
the headline's query order) from `--seed`, runs every
plan of the workload (set-up), then runs closed-loop passes over the
workload for at least `--seconds` seconds and checks every result against
DuckDB.
The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). The line before it (`# record ...`) holds the pinned
environment, host probes and per-query numbers. `--self-test` plants one
wrong answer in a small flagship run and exits 0 only if the check counts it.
Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402
from typing import Callable  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
sys.path.insert(0, str(ROOT))  # the engine, and tests.compare for the checks

if not (ROOT / "onebrc_spark").is_dir():
    sys.exit(f"no engine package at {ROOT / 'onebrc_spark'}: run from a repository checkout")

import check  # noqa: E402
import spans  # noqa: E402

# The status store must keep every job and stage of a run, or the traced
# passes' stage metrics would be evicted; job_stats fails the run if it was.
RETAINED = 100_000

# 24 entries: 23 registry queries and the cold pair-set build. Pinned here so
# an edit to bench.py's list cannot change what this benchmark measures.
HEADLINE = (
    "onebrc_flagship", "agg_tpch_q1", "join_inner_fact", "join_broadcast_dims",
    "join_asof", "window_topn_per_group", "evt_session_window",
    "dedup_minhash_pairs_build", "dedup_minhash_lsh", "sim_ann_lsh_banded",
    "text_ngram_tf", "dedup_cluster_components", "cdc_merge_upsert",
    "storage_zorder_layout", "ml_temperature_mix", "sql_tpch_q21_shape",
    "mm_byte_stats_arrow", "dedup_incremental_admission", "agg_cms_heavy_hitters",
    "text_boilerplate_segments", "text_boilerplate_clean", "text_bpe_merge_pairs",
    "ml_shard_binpack", "dedup_graph_pagerank",
)
PAIR_BUILD = "dedup_minhash_pairs_build"
PAIR_CONSUMERS = ("dedup_minhash_lsh", "dedup_cluster_components", "dedup_graph_pagerank")
# A frozen copy of the engine's seeded sf0.01 fixture: the headline tables
# are fixed, and the run seed permutes the query order.
TABLES = HERE / "data" / "sf0.01"
FLAGSHIP_ROWS = 8_000_000
LADDER_ROWS = 1_000_000  # side input for the ladder on the headline workloads
TAIL_PCT = 90

# name -> (kind, clients, warm-up passes, least timed passes). Set-up ends
# after the first pass; the flagship's JIT keeps speeding it up over its
# first few executions, so four more untimed passes follow. Its passes are
# short, so a run times at least six of them.
WORKLOADS = {
    "flagship_text": ("flagship", 1, 5, 6),
    "headline_sf0.01": ("headline", 1, 1, 1),
    "headline_concurrent": ("headline", 2, 1, 1),
}

FLAGSHIP_SQL = """
WITH g AS (
  SELECT station, min(measure) AS mn, max(measure) AS mx,
         CAST(sum(CAST(round(measure * 100) AS BIGINT)) AS BIGINT) AS s,
         count(measure) AS n
  FROM read_csv('{glob}', delim = ';', header = false, quote = '', escape = '',
                columns = {{'station': 'VARCHAR', 'measure': 'DOUBLE'}})
  GROUP BY station)
SELECT station, mn AS "min",
       CASE WHEN s >= 0 THEN floor((2 * s + 10 * n) / (20 * n))
            ELSE -floor((2 * (-s) + 10 * n) / (20 * n)) END / 10.0 + 0.0 AS mean,
       mx AS "max"
FROM g
"""


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def pin_environment(kind: str) -> dict:
    """Fix the knobs that change what a run measures, before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(2048, ram_mb // 4)
    for d in ("spark-local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        # no protobuf vendoring: the workloads run no stateful streaming query
        "ONEBRC_PROTOBUF_SDK_PATH": str(WORK / "no-protobuf-sdk"),
        "PYSPARK_PYTHON": sys.executable,
        # text scans split at the reference's 16 MiB chunk size (bench.py
        # does the same); the 128m default leaves cores idle on this input
        "SPARK_GRAFT_MAX_PARTITION_BYTES": "16m" if kind == "flagship" else "128m",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.ui.retainedJobs={RETAINED}",
            f"--conf spark.ui.retainedStages={RETAINED}",
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'}",
            # quoted: the value holds a space. -Xms = -Xmx: a heap that grows
            # with GC timing made the peak RSS range from 1435 to 2042 MB over
            # five runs of the same code; a fixed heap is touched in full.
            f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={WORK / "tmp"} -Xms{heap_mb}m"',
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return {"nproc": cpus, "ram_mb": ram_mb, "driver_heap_mb": heap_mb,
            "max_partition_bytes": env["SPARK_GRAFT_MAX_PARTITION_BYTES"],
            "spark_local_dirs": env["SPARK_LOCAL_DIRS"]}


@dataclass
class Entry:
    name: str
    build: Callable
    expected: object
    before: Callable | None = None  # cache reset, outside the timer


@dataclass
class Execution:
    qid: str
    name: str
    start: float
    build_end: float
    end: float
    columns: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    phases: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def build_s(self) -> float:
        return self.build_end - self.start


@dataclass
class Pass:
    traced: bool
    wall_s: float
    executions: list


class Runner:
    def __init__(self, spark, tracer, plant_wrong: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.plant_wrong = plant_wrong
        self.attempted = 0
        self.failures: list[str] = []
        self._seq = 0
        self._lock = threading.Lock()

    def execute(self, entry: Entry, client: int, traced: bool) -> Execution:
        with self._lock:
            self._seq += 1
            qid = f"{client}.{self._seq}:{entry.name}"
        sc = self.spark.sparkContext
        if entry.before:
            entry.before()
        if traced:
            sc.setJobGroup(qid, entry.name)
        t0 = time.time()
        ex = Execution(qid, entry.name, t0, t0, t0)
        try:
            df = entry.build()
            ex.build_end = time.time()
            if traced:
                with self.tracer.span("query.plan", qid):
                    df._jdf.queryExecution().executedPlan()
            ex.rows = df.collect()
            ex.end = time.time()
            ex.columns = list(df.columns)
            if traced:
                ex.phases = spans.catalyst_phases(df)
        except Exception as e:  # a failed execution is counted, not fatal
            ex.end = time.time()
            ex.error = f"{type(e).__name__}: {str(e)[:300]}"
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)  # later jobs are not this query's
            self.tracer.add("query", qid, t0, ex.end, client=client, name=entry.name)
            self.tracer.add("query.build", qid, t0, ex.build_end)
            self.tracer.add("query.execute", qid, ex.build_end, ex.end)
        return ex

    def check(self, entry: Entry, ex: Execution) -> None:
        """Outside every timer: compare one execution with its oracle."""
        with self.tracer.span("query.check", ex.qid):
            self.attempted += 1
            if self.plant_wrong and ex.error is None and ex.rows:
                self.plant_wrong = False
                ex.rows[0] = (*ex.rows[0][:-1], "planted wrong value")
            why = ex.error or check.mismatch(ex.columns, ex.rows, entry.expected)
            if why:
                self.failures.append(f"{ex.qid}: {why}")
                log(f"FAILED {ex.qid}: {why}")

    def run_pass(self, orders: list[list[Entry]], traced: bool) -> Pass:
        """One pass: each client runs its order closed-loop, one query at a
        time; clients run side by side on the one SparkSession."""
        results: list[list[Execution]] = [[] for _ in orders]

        def client(c: int) -> None:
            for entry in orders[c]:
                results[c].append(self.execute(entry, c, traced))

        t0 = time.time()
        if len(orders) == 1:
            client(0)
        else:
            threads = [threading.Thread(target=client, args=(c,)) for c in range(len(orders))]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        wall = time.time() - t0
        by_name = {e.name: e for order in orders for e in order}
        for execs in results:
            for ex in execs:
                self.check(by_name[ex.name], ex)
        return Pass(traced, wall, [ex for execs in results for ex in execs])


def headline_order(seed: int, names: tuple[str, ...]) -> list[str]:
    """`names` shuffled by `seed`, with the pair-set build moved ahead of the
    first pair consumer."""
    order = list(names)
    random.Random(seed).shuffle(order)
    if PAIR_BUILD in order:
        order.remove(PAIR_BUILD)
        first = min(order.index(c) for c in PAIR_CONSUMERS)
        order.insert(first, PAIR_BUILD)
    return order


def onebrc_text(spark, rows: int, seed: int) -> tuple[Path, float]:
    """The generated `station;temp` text for (rows, seed), cached; other
    seeds of the same size are removed so the work directory stays small."""
    from onebrc_spark.sources.generator import generate_measurements
    from onebrc_spark.sources.onebrc import write_measurements

    base = WORK / "onebrc"
    path = base / f"rows{rows}-seed{seed}"
    t0 = time.time()
    if not (path / "_SUCCESS").exists():
        for old in base.glob(f"rows{rows}-seed*"):
            shutil.rmtree(old)
        write_measurements(generate_measurements(spark, rows, seed=seed), str(path))
    return path, time.time() - t0


def flagship_entry(spark, path: Path) -> Entry:
    import duckdb

    from onebrc_spark.operators.aggregates import onebrc_aggregate
    from onebrc_spark.sources.onebrc import read_measurements_fast

    sql = FLAGSHIP_SQL.format(glob=f"{path}/part-*")
    expected = check.cached_expected(WORK / "expected", str(path), sql, duckdb.connect)
    return Entry(
        "onebrc_text",
        lambda: onebrc_aggregate(read_measurements_fast(spark, str(path)), "station", "measure"),
        expected,
    )


def headline_entries(spark, queries: dict) -> dict[str, Entry]:
    import duckdb

    from onebrc_spark.operators.clustering import clear_components_cache
    from onebrc_spark.operators.dedup import clear_pair_cache, minhash_pairs

    @functools.cache
    def connect():
        con = duckdb.connect()
        for f in sorted(TABLES.glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
        return con

    def clear_pairs():
        clear_pair_cache()
        clear_components_cache()  # labels derive from the pairs

    d = str(TABLES)
    entries = {}
    for name in HEADLINE:
        oracle = queries["dedup_minhash_lsh" if name == PAIR_BUILD else name].oracle
        if name == PAIR_BUILD:
            build, before = (lambda: minhash_pairs(spark, d)), clear_pairs
        else:
            build = (lambda fn: lambda: fn(spark, d))(queries[name].fn)
            before = clear_components_cache if name == "dedup_cluster_components" else None
        entries[name] = Entry(name, build, check.cached_expected(WORK / "expected", d, oracle, connect), before)
    return entries


def cpu_spin_s() -> float:
    import hashlib

    buf = b"\x5a" * (1 << 20)
    t0 = time.time()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    return time.time() - t0


def spark_probe_s(spark) -> float:
    t0 = time.time()
    spark.range(0, 20_000_000, 1, 8).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    return time.time() - t0


def percentile(xs: list[float], pct: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _pids(spark) -> tuple[int, int]:
    return os.getpid(), spark._jvm.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Restart the RSS high-water marks of Python and the driver JVM, so
    input generation, oracle queries and set-up do not count."""
    for pid in _pids(spark):
        Path(f"/proc/{pid}/clear_refs").write_text("5")


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS (VmHWM) of Python and of the driver JVM since the last reset."""
    out = {}
    for side, pid in zip(("python", "jvm"), _pids(spark)):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                out[side] = int(line.split()[1]) / 1024
    return out


def ladder(runner: Runner, spark, entry: Entry, path: Path, reps: int = 3) -> dict:
    """Flagship ladder: L0 reads and splits lines, L1 also parses both
    columns, L3 is the full query. Each rung's optimized plan is checked to
    compute what the rung claims before it is timed."""
    from pyspark.sql import functions as F

    from onebrc_spark.sources.onebrc import read_measurements_fast

    rungs = {
        "L0": (lambda: spark.read.text(str(path)).agg(F.sum(F.length("value"))), [r"length\(value#"]),
        "L1": (
            lambda: read_measurements_fast(spark, str(path)).agg(F.max("station"), F.sum("measure")),
            [r"substring_index\(value#\d+, ;, 1\)",
             r"cast\(substring_index\(value#\d+, ;, -1\) as double\)"],
        ),
        "L3": (entry.build, [r"min\(", r"max\(", r"sum\(", r"count\("]),
    }
    for rung, (build, needles) in rungs.items():
        plan = build()._jdf.queryExecution().optimizedPlan().toString()
        missing = [n for n in needles if not re.search(n, plan)]
        if missing:
            raise RuntimeError(f"ladder rung {rung} plan lacks {missing}:\n{plan}")
    times: dict[str, list[float]] = {r: [] for r in rungs}
    for _ in range(reps):
        for rung, (build, _) in rungs.items():
            if rung == "L3":
                ex = runner.execute(entry, 0, traced=False)
                runner.check(entry, ex)
                times[rung].append(ex.wall_s)
            else:
                t0 = time.time()
                build().collect()
                times[rung].append(time.time() - t0)
    l0, l1, l3 = (statistics.median(times[r]) for r in ("L0", "L1", "L3"))
    return {
        "sources.read_s": l0, "sources.parse_s": l1 - l0, "aggregates.agg_s": l3 - l1,
        "sources.read_share": l0 / l3, "sources.parse_share": (l1 - l0) / l3,
        "aggregates.agg_share": (l3 - l1) / l3,
    }


def layer_metrics(spark, passes: list[Pass]) -> tuple[dict, dict]:
    """Per-layer totals per traced pass (mean over traced passes), and the
    per-query detail behind them."""
    traced = [p for p in passes if p.traced]
    execs = [e for p in traced for e in p.executions]
    stats = spans.job_stats(
        spark, [{"qid": e.qid, "start": e.start, "end": e.end} for e in execs], RETAINED
    )
    n = len(traced)
    totals: dict[str, float] = {}
    for e in execs:
        st = dict(stats[e.qid])
        st["registry.build_s"] = e.build_s
        for phase in ("analysis", "optimization", "planning"):
            st[f"catalyst.{phase}_s"] = e.phases.get(phase, 0.0)
        for k, v in st.items():
            totals[k] = totals.get(k, 0.0) + v / n
    pass_s = statistics.mean(p.wall_s for p in traced)
    totals["registry.build_share"] = totals["registry.build_s"] / pass_s
    totals["memo.persisted_rdds"], totals["memo.storage_bytes"] = spans.memo_storage(spark)
    detail: dict[str, dict] = {}
    for e in execs:
        d = detail.setdefault(e.name, {"build_s": [], "wall_s": []})
        d["build_s"].append(e.build_s)
        d["wall_s"].append(e.wall_s)
        d.update({k: v for k, v in stats[e.qid].items() if k.startswith("exec.")})
    per_query = {
        name: {"build_s": statistics.median(d.pop("build_s")),
               "wall_s": statistics.median(d.pop("wall_s")), **d}
        for name, d in detail.items()
    }
    memo = {
        "memo.pair_build_s": per_query.get(PAIR_BUILD, {}).get("wall_s", 0.0),
        "memo.consumer_s": sum(per_query.get(c, {}).get("wall_s", 0.0) for c in PAIR_CONSUMERS),
    }
    return totals, {"queries": per_query, **memo}


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    kind = WORKLOADS[args.workload][0]
    env = pin_environment(kind)
    import pyarrow

    tracer = spans.Tracer()
    with tracer.span("session.start"):
        from onebrc_spark.session import get_spark

        spark = get_spark("perfbench")
    session_s = time.time() - T_START
    try:
        return measure(args, spark, tracer, {
            **env, "spark": spark.version, "pyarrow": pyarrow.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }, session_s)
    finally:
        stop_spark(spark)


def measure(args, spark, tracer, env: dict, session_s: float) -> dict:
    kind, clients, warm_passes, least = WORKLOADS[args.workload]
    from onebrc_spark import registry

    with tracer.span("registry.load"):
        t0 = time.time()
        queries = registry.load_all()
        registry_s = time.time() - t0
    runner = Runner(spark, tracer, plant_wrong=args.plant_wrong)
    rows = args.rows
    with tracer.span("sources.generate"):
        if kind == "flagship":
            path, generate_s = onebrc_text(spark, rows, args.seed)
            flagship = flagship_entry(spark, path)
            orders = [[flagship]]
        else:
            entries = headline_entries(spark, queries)
            names = HEADLINE if clients == 1 else tuple(n for n in HEADLINE if n != PAIR_BUILD)
            orders = [
                [entries[n] for n in headline_order(args.seed * 1000 + c, names)]
                for c in range(clients)
            ]
            if clients > 1:  # shared memos are warm; resets would race the other client
                orders = [[Entry(e.name, e.build, e.expected) for e in o] for o in orders]
    # set-up ends once every plan of the workload has run (one client)
    setup_s = session_s + registry_s + runner.run_pass(orders[:1], False).wall_s
    for _ in range(warm_passes - 1):
        runner.run_pass(orders[:1], False)

    probes = {"before": {"cpu_spin_s": cpu_spin_s(), "spark_probe_s": spark_probe_s(spark)}}
    passes: list[Pass] = []
    reset_peak_rss(spark)
    t0 = time.time()
    while True:
        traced = args.trace == 1 and len(passes) % 2 == 1
        passes.append(runner.run_pass(orders, traced))
        if time.time() - t0 >= args.seconds and len(passes) >= max(least, 2 * args.trace):
            break
    peak_mb = peak_rss_mb(spark)
    probes["after"] = {"cpu_spin_s": cpu_spin_s(), "spark_probe_s": spark_probe_s(spark)}

    plain = [p for p in passes if not p.traced]
    walls = [e.wall_s for p in plain for e in p.executions]
    pass_s = statistics.median(p.wall_s for p in plain)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_tail_s": (percentile(walls, TAIL_PCT), "s"),
        "peak_rss_mb": (sum(peak_mb.values()), "MB"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "env": env, "probes": probes, "clients": clients,
        "passes": len(plain), "executions": len(walls),
        "tail": {"percentile": TAIL_PCT, "samples": len(walls),
                 "beyond": sum(w > end_to_end["query_tail_s"][0] for w in walls)},
        "queries_per_s": len(walls) / sum(p.wall_s for p in plain),
        "rows_per_s": rows / pass_s if kind == "flagship" else None,
        "query_wall_s": {
            name: statistics.median(e.wall_s for p in plain for e in p.executions if e.name == name)
            for name in dict.fromkeys(e.name for e in plain[0].executions)
        },
        "pass_walls": [p.wall_s for p in passes],
        "peak_rss_mb": peak_mb,
        "failures": runner.failures[:20],
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    if args.trace:
        layers, detail = layer_metrics(spark, passes)
        if kind == "flagship":
            text, lad_entry = path, flagship
        else:
            text, generate_s = onebrc_text(spark, LADDER_ROWS, args.seed)
            lad_entry = flagship_entry(spark, text)
        layers.update(ladder(runner, spark, lad_entry, text))
        traced_s = statistics.median(p.wall_s for p in passes if p.traced)
        host = [p[k] for p in probes.values() for k in ("cpu_spin_s", "spark_probe_s")]
        layers.update({
            "session.start_s": session_s, "registry.load_s": registry_s,
            "sources.generate_s": generate_s,
            "host.cpu_spin_s": statistics.mean(host[0::2]),
            "host.spark_probe_s": statistics.mean(host[1::2]),
            "trace.overhead_ratio": traced_s / pass_s,
            "check.failed_ratio": len(runner.failures) / runner.attempted,
        })
        record.update(detail)
        assert layers.keys() == PER_LAYER_UNITS.keys(), layers.keys() ^ PER_LAYER_UNITS.keys()
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in sorted(layers.items())}
        tracer.write(WORK / "traces" / f"{args.workload}-seed{args.seed}.json", record)
    return {"record": record, "result": {
        "correct": not runner.failures, "attempted": runner.attempted,
        "failed": len(runner.failures), "metrics": metrics,
    }}


PER_LAYER_UNITS = {
    "session.start_s": "s", "registry.load_s": "s", "registry.build_s": "s",
    "registry.build_share": "ratio", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "driver.outside_jobs_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count", "exec.task_wait_s": "s",
    "sources.read_s": "s", "sources.parse_s": "s", "aggregates.agg_s": "s",
    "sources.read_share": "ratio", "sources.parse_share": "ratio",
    "aggregates.agg_share": "ratio", "memo.persisted_rdds": "count",
    "memo.storage_bytes": "bytes", "sources.generate_s": "s",
    "host.spark_probe_s": "s", "host.cpu_spin_s": "s",
    "trace.overhead_ratio": "ratio", "check.failed_ratio": "ratio",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="flagship_text")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="small flagship run with one planted wrong answer; exit 0 iff caught")
    args = ap.parse_args()
    args.rows, args.plant_wrong = FLAGSHIP_ROWS, False
    if args.self_test:
        args.workload, args.rows, args.seconds, args.trace = "flagship_text", 200_000, 1, 0
        args.plant_wrong = True
    out = run(args)
    res = out["result"]
    if args.self_test:
        ok = res["failed"] == 1 and not res["correct"]
        log(f"self-test: planted wrong answer {'caught' if ok else 'NOT caught'} "
            f"({res['failed']} of {res['attempted']} executions failed)")
        return 0 if ok else 1
    print("# record " + json.dumps(out["record"], default=str), flush=True)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
