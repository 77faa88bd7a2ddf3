"""Benchmark harness (driver contract): headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is total wall-clock over the headline set (excluding Spark startup),
per-query seconds in `queries`. Each query executes to completion with a
count()-style action (no driver-side result materialization beyond the
aggregate — mirrors how the reference times scan→agg→sort end-to-end,
BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from onebrc_spark import registry
from onebrc_spark.operators.clustering import clear_components_cache
from onebrc_spark.operators.dedup import clear_pair_cache
from onebrc_spark.session import codegen_compiles, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_SF_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")

# Headline set: the flagship + one representative per operator family,
# weighted toward the shapes that dominate at 100 TB (scan-agg, fact join,
# window, near-dup, similarity).
HEADLINE = [
    "onebrc_flagship",
    "agg_tpch_q1",
    "join_inner_fact",
    "join_broadcast_dims",
    "join_asof",
    "window_topn_per_group",
    "evt_session_window",
    # Pair-set accounting (round 5): the verified near-dup pair set is ONE
    # shared asset with four consumers (minhash presentation, both cluster
    # queries, the leakage-safe split). Round 4 cleared the memo before
    # EVERY timed run, so the build cost was counted once per consumer —
    # honest per-query standalone cost, but it double-counts the asset and
    # read as a phantom minhash "regression" when the r4 leak fix moved the
    # build inside the timed window. Round 5 splits the accounting the way
    # production pays it: `dedup_minhash_pairs_build` times the full build
    # from cold (cache cleared per run), and the consumers below
    # (`dedup_minhash_lsh`, `dedup_cluster_components`) time their OWN
    # marginal work on the warm shared asset.
    "dedup_minhash_pairs_build",
    "dedup_minhash_lsh",
    # banded (4×12) construction is the scale path; the single-table 8-bit
    # sim_ann_lsh stays registered as the teaching variant but its N²/256
    # candidate growth is not what we want to certify at 100 TB.
    "sim_ann_lsh_banded",
    "text_ngram_tf",
    # round-2 surface: cluster resolution (iterative joins), MERGE (full-
    # outer on key), Z-order audit (pure bit arithmetic), weighted sampling.
    "dedup_cluster_components",
    "cdc_merge_upsert",
    "storage_zorder_layout",
    "ml_temperature_mix",
    # round-2b surface: the heaviest decorrelation shape (semi+anti joins),
    # and the Arrow-native byte-scan path.
    "sql_tpch_q21_shape",
    "mm_byte_stats_arrow",
    # round-4 surface: the incremental-ingest gate (batch×corpus-only LSH,
    # the production dedup shape) and the mergeable count-min sketch.
    "dedup_incremental_admission",
    "agg_cms_heavy_hitters",
    # round-6 surface: the CCNet/Dolma paragraph-dedup stage (segment df
    # census on 8-byte keys + hot-set broadcast — text never shuffles),
    # and the BPE merge census (two-stage wordcount, TakeOrdered top-30).
    "text_boilerplate_segments",
    "text_boilerplate_clean",
    "text_bpe_merge_pairs",
    # round-7 surface: the two-phase global-rank shard manifest and the
    # exact-integer power iteration over the warm near-dup pair asset
    # (pair-cache consumer — must follow the build entry, like the
    # cluster-components row).
    "ml_shard_binpack",
    "dedup_graph_pagerank",
]


# 1BRC text benchmark: the reference's own workload (BASELINE.md measures
# scan→agg→sort over `station;temp` text). Generated once under /tmp and
# reused; row count scales the same shape as the 1e9-row original.
ONEBRC_ROWS = int(os.environ.get("ONEBRC_BENCH_ROWS", 50_000_000))
ONEBRC_DATA = f"/tmp/onebrc_spark_bench/measurements_{ONEBRC_ROWS}"


def _ensure_onebrc_data(spark) -> None:
    """Generate the 1BRC text fixture if absent — called OUTSIDE the timed
    calm window (generation takes ~1 min at 50M rows and would blow any
    <2-min window; it is untimed setup, not measurement)."""
    import pathlib

    from onebrc_spark.sources.generator import generate_measurements
    from onebrc_spark.sources.onebrc import write_measurements

    if not pathlib.Path(ONEBRC_DATA, "_SUCCESS").exists():
        print(f"# generating {ONEBRC_ROWS} 1BRC rows → {ONEBRC_DATA}", file=sys.stderr)
        write_measurements(
            generate_measurements(spark, ONEBRC_ROWS, seed=42, num_partitions=64),
            ONEBRC_DATA,
        )


def _onebrc_text_seconds(spark) -> float:
    from onebrc_spark.operators.aggregates import onebrc_aggregate
    from onebrc_spark.sources.onebrc import read_measurements_fast

    _ensure_onebrc_data(spark)
    # Text scans want the reference's own 16 MiB chunk granularity
    # (`rust_1brc/src/main.rs:21`): at this file size the 128m parquet
    # default yields ~7 splits — a 32-core box runs 4× faster with ~64.
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    try:
        # Five timed runs: the first eats JVM JIT/codegen first-touch
        # (~5-7 s of fixed cost, amortized to nothing at the reference's
        # 1e9-row scale); warm = MIN of the next four (VERDICT r11 #1:
        # min-of-4 is the fullsweep standard, and the r11 clean artifact's
        # only trusted flag sat on a best-of-2 text-scan number whose
        # 1.14x same-epoch tree-pair delta could not be adjudicated at
        # protocol grade) — single-shot warm times swing ±30% on a shared
        # box (GC, page cache), which round 4 measured as a phantom 1.3x
        # "regression" on an untouched plan.
        runs = []
        for _ in range(5):
            t0 = time.time()
            df = onebrc_aggregate(
                read_measurements_fast(spark, ONEBRC_DATA), "station", "measure"
            )
            n = df.count()
            runs.append(time.time() - t0)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
    cold, warm = runs[0], min(runs[1:])
    print(
        f"# onebrc_text_scan_agg: {n} stations, {ONEBRC_ROWS} rows "
        f"cold {cold:.2f}s / warm {warm:.2f}s "
        f"({ONEBRC_ROWS / warm / 1e6:.0f}M rows/s warm; BASELINE Polars ≈ 29M rows/s)",
        file=sys.stderr,
    )
    return round(warm, 3), round(cold, 3)


def _cpu_spin_seconds() -> float:
    """Fixed single-thread CPU probe: SHA-256 over a constant buffer, a
    constant iteration count — measures raw per-core contention on the
    shared host, independent of Spark."""
    import hashlib

    buf = b"\x5a" * (1 << 20)
    t0 = time.time()
    h = hashlib.sha256()
    for _ in range(192):
        h.update(buf)
    assert h.digest()  # keep the fold observable
    return time.time() - t0


def _spark_probe_seconds(spark) -> float:
    """Fixed parallel Spark probe: xxhash64-fold over a constant range with
    constant partitioning — measures JVM/scheduler/parallel throughput under
    the current host load, the component that actually scales query times."""
    t0 = time.time()
    # bit_xor, not sum: summing 1e8 full-range xxhash64 longs overflows
    # BIGINT under ANSI; the xor fold does identical per-row work overflow-free
    spark.range(0, 100_000_000, 1, 32).selectExpr(
        "bit_xor(xxhash64(id)) AS s"
    ).collect()
    return time.time() - t0


def _jvm_gc_millis(spark) -> int:
    """Cumulative JVM GC wall-millis since JVM start, summed over all
    GarbageCollectorMXBeans — the delta across a probe tells whether a
    reading was inflated by the JVM collecting this process's own garbage
    rather than by host load."""
    beans = (
        spark._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    total = 0
    it = beans.iterator()
    while it.hasNext():
        t = it.next().getCollectionTime()
        if t > 0:
            total += t
    return int(total)


def _jvm_system_gc(spark) -> None:
    spark._jvm.System.gc()


def _gc_adjudicated_post_probe(spark, band: float) -> tuple[float, dict | None]:
    """Post-probe with GC self-noise adjudication (VERDICT r11 #3): the
    minhash-build entry's post-probe read ~0.32 s on every attempt in both
    r11 clean runs while standalone replications were clean — hypothesis:
    trailing JVM GC from the heavy persist+materialize lands inside the
    probe. Mechanism, now measured per-probe: take the probe with a GC
    MXBean delta around it; if it reads contended AND at least half the
    overage is measured in-process GC time, the reading is SELF-noise, not
    host load — flush with System.gc() (outside any timed window) and
    re-probe once. Returns (post, evidence) where evidence (recorded in
    the stamp as `gc_flush`) carries the first reading and its measured GC
    overlap, so a flushed stamp is backed by numbers, not a waiver."""
    g0 = _jvm_gc_millis(spark)
    post = _spark_probe_seconds(spark)
    gc_ms = _jvm_gc_millis(spark) - g0
    if post <= band or gc_ms < 0.5 * (post - band) * 1000:
        return post, None
    _jvm_system_gc(spark)
    post2 = _spark_probe_seconds(spark)
    return post2, {"first_post": round(post, 3), "gc_ms_in_first": gc_ms}


def run_calibration(spark, samples: list) -> None:
    """One (cpu_spin, spark_probe) sample appended to `samples` — called at
    start, middle, and end of the bench so the emitted artifact carries the
    host-noise trajectory across the run, not one lucky instant."""
    samples.append(
        {"cpu_spin_sec": round(_cpu_spin_seconds(), 3),
         "spark_probe_sec": round(_spark_probe_seconds(spark), 3)}
    )
    print(f"# calibration sample {len(samples)}: {samples[-1]}", file=sys.stderr)


def _median(xs: list) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


# Idle-floor default for the spark probe when no prior artifact carries
# calibration: the established idle band on this host is ~0.19-0.21 s
# (every uncontended r8/r9 artifact), so 0.22 is the trust ceiling.
_PROBE_FLOOR_DEFAULT = 0.22


def _parse_artifact(path: Path) -> dict | None:
    """Load a BENCH_r*.json and unwrap the driver's {"parsed": ...} envelope."""
    try:
        doc = json.loads(path.read_text())
        parsed = doc.get("parsed", doc)
        return parsed if isinstance(parsed, dict) else None
    except (OSError, json.JSONDecodeError, AttributeError):
        return None


def _artifact_probe(parsed: dict | None) -> float | None:
    cal = parsed.get("calibration") if isinstance(parsed, dict) else None
    return cal.get("spark_probe_sec") if isinstance(cal, dict) else None


def _probe_band(repo: Path) -> float:
    """Contention ceiling for spark_probe_sec: 1.25x the lowest probe any
    recorded artifact (headline or fullsweep — the probe is a fixed workload,
    scale-independent) ever measured, floored at the idle-band default.
    VERDICT r9: the r9 headline artifact (probe 0.365-0.487 vs the ~0.19 s
    floor) printed 5 phantom regressions because nothing gated on the probe.

    ADVICE r10: with NO calibrated artifacts the band IS the documented
    trust ceiling (0.22 s), not 1.25x it — the multiplier applies only to a
    measured host floor. And because min-over-artifacts is a one-way
    ratchet pinned to the fastest host ever recorded, a legitimately slower
    replacement host would see every run permanently demoted: set
    ONEBRC_PROBE_FLOOR=<sec> to re-baseline (it replaces the artifact-min
    floor; the band is then 1.25x the override)."""
    override = os.environ.get("ONEBRC_PROBE_FLOOR")
    if override:
        return round(1.25 * float(override), 3)
    floors = [
        p for p in (
            _artifact_probe(_parse_artifact(f)) for f in repo.glob("BENCH_r*.json")
        ) if p
    ]
    if not floors:
        return _PROBE_FLOOR_DEFAULT
    return round(max(1.25 * min(floors), _PROBE_FLOOR_DEFAULT), 3)


def compute_noise_block(
    times: dict[str, float],
    samples: list,
    repo: Path | None = None,
    query_probes: dict | None = None,
) -> dict:
    """Noise-normalized regression tracking (VERDICT r6 #1: three same-tree
    r6 measurements read 9.4/14.5/22.1 s — raw cross-round deltas are
    uninterpretable on this shared host).

    The artifact carries two independent noise estimators against the
    newest recorded BENCH_r{N}.json:
      probe_ratio   — this run's median spark_probe_sec over the prior
                      run's (requires the prior to carry calibration);
      median_ratio  — median per-query raw ratio over the common set, the
                      self-normalizing estimator (robust while most queries
                      are untouched; a real regression is localized, so it
                      survives the median).
    Per-query normalized ratio = raw_ratio / median_ratio; the regression
    list is computed on NORMALIZED ratios > 1.3. Raw ratios stay in the
    stderr log for audit.

    query_probes (VERDICT r10 #1, the chunked protocol): per-query
    {"pre": s, "post": s, "clean": bool} probe stamps from the calm-window
    gate. When provided, the calibration's headline spark_probe_sec (the
    number future bands and reference selection key on) is the median over
    ALL per-query probe readings — the conditions the numbers were actually
    taken under — and `contended` means that median exceeds the band. A
    regression flag is TRUSTED iff its own query's window was clean: the
    trajectory may flap between queries without poisoning numbers taken
    inside clean windows."""
    repo = repo or Path(__file__).resolve().parent
    band = _probe_band(repo)
    probe_pool = [s["spark_probe_sec"] for s in samples]
    if query_probes:
        probe_pool = [
            p[k] for p in query_probes.values() for k in ("pre", "post")
            if p.get(k) is not None
        ] or probe_pool
    cal = {
        "samples": samples,
        "cpu_spin_sec": round(_median([s["cpu_spin_sec"] for s in samples]), 3),
        "spark_probe_sec": round(_median(probe_pool), 3),
        "probe_band": band,
        # Contended-run annotation (VERDICT r9 #1): a probe above the idle
        # band means every raw time in THIS artifact is load-inflated; its
        # regression flags are demoted to untrusted_regressions below, and
        # future runs will skip it as a noise reference.
        "contended": round(_median(probe_pool), 3) > band,
    }
    block = {"calibration": cal}
    if query_probes:
        block["query_probes"] = query_probes
    if cal["contended"]:
        print(
            f"# WARNING: this run is CONTENDED (spark_probe "
            f"{cal['spark_probe_sec']}s > band {band}s) — raw times are "
            f"load-inflated; do not commit this artifact as a reference",
            file=sys.stderr,
        )
    prior = sorted(repo.glob("BENCH_r*.json"))
    prior = [p for p in prior if "fullsweep" not in p.name]
    # Reference selection (VERDICT r9 #1): newest probe-CLEAN artifact. A
    # contended reference (r9: probe 0.365-0.487 vs the 0.2 floor) inflates
    # every ratio's denominator, under which a real <=1.6x regression reads
    # as an improvement — skip such artifacts, fall back to the next-newest.
    ref_path, parsed = None, None
    for cand in reversed(prior):
        p = _parse_artifact(cand)
        if p is None:
            continue
        probe = _artifact_probe(p)
        if probe is not None and probe > band:
            print(
                f"# noise ref candidate {cand.name} is contended "
                f"(probe {probe}s > band {band}s) — skipping",
                file=sys.stderr,
            )
            continue
        ref_path, parsed = cand, p
        break
    if ref_path is None:
        if prior:
            print(
                "# no probe-clean noise reference among recorded artifacts — "
                "calibration only, no regression comparison",
                file=sys.stderr,
            )
        return block
    ref = parsed.get("queries", {})
    # Same-workload guard (late r9): an SPARK_GRAFT_SF_DIR quick-run at a
    # different SF than the recorded artifact would compare cross-scale
    # ratios and print phantom "regressions" — calibration only, no noise
    # comparison, when the scales differ. A reference with no "sf" key is
    # UNKNOWN scale, which is the same hazard (ADVICE r9) — skip it too.
    cur_sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    ref_sf = parsed.get("sf")

    def _same_scale(a, b) -> bool:
        # numeric compare when both parse (str(1.0) != "1", "0.10" != "0.1"
        # — string equality would false-negative and silently disable the
        # comparison at that scale); string compare as the fallback
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)

    if ref_sf is None:
        print(
            f"# noise ref {ref_path.name} has no recorded sf (unknown scale) "
            f"— skipping noise comparison",
            file=sys.stderr,
        )
        return block
    if not _same_scale(ref_sf, cur_sf):
        print(
            f"# noise ref {ref_path.name} is sf={ref_sf}, this run is "
            f"sf={cur_sf} — skipping cross-scale noise comparison",
            file=sys.stderr,
        )
        return block
    ratios = {}
    for name, sec in times.items():
        old = ref.get(name)
        if old:
            ratios[name] = sec / old
    if not ratios:
        return block
    median_ratio = _median(list(ratios.values()))
    prior_cal = parsed.get("calibration") if isinstance(parsed, dict) else None
    probe_ratio = None
    if prior_cal and prior_cal.get("spark_probe_sec"):
        probe_ratio = round(cal["spark_probe_sec"] / prior_cal["spark_probe_sec"], 3)
    regressions = []
    # flag needs BOTH signals: normalized >1.3 AND raw above a floor. The
    # global median over-corrects sub-second fixed-cost-dominated
    # queries (their times don't scale with host load the way
    # data-bound queries do — observed: an untouched 0.3 s query read
    # raw 1.10x / normalized 1.36x purely because the rest of the set
    # ran 0.81x); a real regression moves the raw ratio too. The raw
    # floor SCALES with the measured host factor (ADVICE r7): at a 0.87x
    # host a genuine 1.3x normalized regression reads raw ~1.13x, which a
    # fixed 1.15 floor silently unflagged — 1.15×median keeps the floor's
    # meaning ("raw moved too, beyond host drift") at any host speed. The
    # 1.10 absolute floor keeps the ORIGINAL failure mode out: on a very
    # fast host (median ≤0.85) a scaled-only floor drops below the
    # sub-second timer-noise band and unchanged fixed-cost queries start
    # flagging on normalized inflation alone.
    raw_floor = max(1.15 * median_ratio, 1.10)
    for name, ratio in sorted(ratios.items()):
        norm = ratio / median_ratio
        # 150 ms absolute-delta floor: the measured same-code run-to-run
        # band on sub-second queries (see tests/test_bench_fullsweep.py)
        hit = (
            norm > 1.3
            and ratio > raw_floor
            and times[name] - ref[name] > 0.15
        )
        flag = "  <-- REGRESSION (normalized)" if hit else ""
        print(
            f"# delta vs {ref_path.name}: {name} {ref[name]:.3f}s -> "
            f"{times[name]:.3f}s (raw {ratio:.2f}x, normalized {norm:.2f}x){flag}",
            file=sys.stderr,
        )
        if hit:
            regressions.append(name)
    if abs(median_ratio - 1.0) > 0.05:
        print(
            f"# host baseline shifted {median_ratio:.2f}x vs {ref_path.name} "
            f"(median over {len(ratios)} common queries; spark-probe says "
            f"{probe_ratio}x) — raw deltas are host noise, normalized deltas "
            f"are the signal",
            file=sys.stderr,
        )
    block["noise"] = {
        "ref": ref_path.name,
        "median_ratio": round(median_ratio, 3),
        "probe_ratio": probe_ratio,
        "normalized_regressions": regressions,
    }
    # Host-EPOCH shift detection (r11): the burst probe and the sustained
    # median are independent host estimators, and when they move >=1.5x in
    # OPPOSITE directions the reference was taken under a different host
    # regime that the probe cannot normalize — measured live this round:
    # r11 probe 0.112 vs r8's 0.188 (probe_ratio 0.60, host LESS contended
    # at burst) while every query read a uniform ~1.36x slower (sustained
    # co-tenant throughput loss the short probe slips between). Checking
    # out the r8 TREE on the same day reproduced the r11-epoch numbers
    # (median 1.53x vs its own artifact), proving the shift is the host,
    # not the code. Flags against a cross-epoch reference stay recorded
    # but the artifact says they need same-epoch adjudication.
    # ADVICE r11: the divergence test additionally requires the probe to
    # be near-flat or opposite-signed (<=1.1x on the slow branch, >=0.9x
    # on the fast one) — the old ratio-only condition also fired when both
    # estimators moved the SAME way (median 3.0x with probe 1.9x is a
    # genuine broad slowdown plus load, not a cross-epoch artifact) and
    # would have annotated a real regression epoch as noise.
    if probe_ratio and (
        (median_ratio >= 1.25 and probe_ratio <= min(median_ratio / 1.5, 1.1))
        or (median_ratio <= 0.8 and probe_ratio >= max(median_ratio * 1.5, 0.9))
    ):
        block["noise"]["reference_epoch_shift"] = True
        print(
            f"# WARNING: probe_ratio {probe_ratio}x vs median_ratio "
            f"{median_ratio:.2f}x — {ref_path.name} is from a different "
            f"HOST EPOCH (sustained throughput shifted, burst probe did "
            f"not); adjudicate any flag by re-running the reference TREE "
            f"on this host",
            file=sys.stderr,
        )
    # Trust is per-query when the chunked gate ran (VERDICT r10 #1): a flag
    # on a query timed inside its own clean window is evidence even if the
    # run's trajectory flapped elsewhere; a flag on a query whose window was
    # contended cannot distinguish load from regression (the r9 artifact
    # printed 5 phantom flags exactly that way). Without per-query stamps,
    # the whole-run contended bit demotes everything, as before.
    def _trusted(name: str) -> bool:
        if query_probes:
            qp = query_probes.get(name)
            return bool(qp and qp.get("clean"))
        return not cal["contended"]

    untrusted = [n for n in regressions if not _trusted(n)]
    if untrusted:
        block["noise"]["untrusted_regressions"] = untrusted
        block["noise"]["normalized_regressions"] = [
            n for n in regressions if n not in untrusted
        ]
        print(
            f"# {len(untrusted)} flag(s) DEMOTED to untrusted (window/run "
            f"contended, probe {cal['spark_probe_sec']}s vs band "
            f"{cal['probe_band']}s): {untrusted} — re-run on an idle host",
            file=sys.stderr,
        )
    trusted = block["noise"]["normalized_regressions"]
    if trusted:
        print(
            f"# {len(trusted)} NORMALIZED regression(s) >1.3x: {trusted}",
            file=sys.stderr,
        )
    return block


# --- Calm-window gate (VERDICT r10 #1) ---------------------------------
# The monolithic ~13-min run could never fit this host's calm windows
# (probe 0.10-0.22, lasting <2 min between co-tenant load flaps), so r9/r10
# shipped contended artifacts. Each headline entry is now timed inside its
# OWN window: pre-probe gate -> plan re-warm -> best-of-2 -> post-probe,
# retried while contended, every number stamped with the probes it was
# taken under (query_probes in the artifact). The wait budget is shared
# across the run and env-tunable so the driver's invocation always
# terminates: when it runs dry the entry is timed anyway and its stamp
# says clean=false — honest degradation to the old behavior.
CALM_WAIT_BUDGET = float(os.environ.get("ONEBRC_BENCH_CALM_WAIT", "900"))
CALM_POLL_SLEEP = float(os.environ.get("ONEBRC_BENCH_CALM_POLL", "20"))
_MAX_ATTEMPTS = 3


def _wait_for_calm(spark, band: float, budget: dict) -> float:
    """Poll the spark probe until it reads <= band or the shared calm-wait
    budget runs dry; returns the last reading. budget = {"left": sec},
    shared across the whole run so one stuck window can't starve the rest."""
    probe = _spark_probe_seconds(spark)
    while probe > band and budget["left"] > 0:
        wait = min(CALM_POLL_SLEEP, budget["left"])
        print(
            f"# probe {probe:.3f}s > band {band}s — waiting {wait:.0f}s "
            f"(calm budget {budget['left']:.0f}s left)",
            file=sys.stderr, flush=True,
        )
        time.sleep(wait)
        budget["left"] -= wait
        probe = _spark_probe_seconds(spark)
    return probe


def _minhash_pairs_build(spark, sf_dir):
    """Bench-only pseudo-query: the cold pair-set build (see HEADLINE note).
    Returns the materialized pair DataFrame; the timed count() is a cache
    read, so the measured cost IS the build."""
    from onebrc_spark.operators.dedup import minhash_pairs

    return minhash_pairs(spark, sf_dir)


# Pseudo-entries not in the registry, and the consumers that deliberately
# keep the shared pair-set memo warm (their timed cost is marginal work on
# the asset the build entry just paid for).
_EXTRA_TIMED = {"dedup_minhash_pairs_build": _minhash_pairs_build}
_KEEP_PAIR_CACHE = {
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "dedup_graph_pagerank",
}


def main() -> None:
    # The warm-asset contract is positional: every pair-set consumer must
    # run AFTER the build entry, or its timed runs silently pay the cold
    # build while the narrative reports marginal cost.
    build_at = HEADLINE.index("dedup_minhash_pairs_build")
    for consumer in _KEEP_PAIR_CACHE:
        assert HEADLINE.index(consumer) > build_at, (
            f"{consumer} must follow dedup_minhash_pairs_build in HEADLINE"
        )

    spark = get_spark("onebrc_bench")
    all_q = registry.load_all()
    # Warm the session (JVM/codegen) with one tiny action so per-query times
    # measure the queries, not first-touch initialization.
    spark.range(1).count()
    # untimed probe warm: the FIRST xxhash64 fold pays JIT/codegen (~3x),
    # which would skew the start-of-run calibration sample
    _spark_probe_seconds(spark)
    cal_samples: list = []
    run_calibration(spark, cal_samples)

    # Warmup pass at sf0.001: compiles/JITs every headline plan so the timed
    # sf0.1 loop measures steady-state query execution, not first-touch
    # codegen (~3-5 s per distinct plan shape, a fixed cost that vanishes at
    # the 1e9-row scale the reference measures).
    def fn_for(name):
        return _EXTRA_TIMED.get(name) or all_q[name].fn

    t0 = time.time()
    for name in HEADLINE:
        fn_for(name)(spark, WARMUP_SF_DIR).count()
    print(f"# warmup ({WARMUP_SF_DIR}): {time.time() - t0:.1f}s", file=sys.stderr)

    times: dict[str, float] = {}
    query_probes: dict[str, dict] = {}
    # Janino compilations during each entry's timed runs (kept attempt): a
    # warm plan whose generated classes stay cached compiles nothing.
    compiles: dict[str, int] = {}
    band = _probe_band(Path(__file__).resolve().parent)
    budget = {"left": CALM_WAIT_BUDGET}

    # 1BRC text benchmark inside its own gated window (generation, the ~1-min
    # untimed setup, happens before the gate so it can't blow the window).
    _ensure_onebrc_data(spark)
    best_text = None
    for attempt in range(1, 3):
        pre = _wait_for_calm(spark, band, budget)
        c0 = codegen_compiles(spark)
        warm, cold = _onebrc_text_seconds(spark)
        n_compiled = codegen_compiles(spark) - c0
        post, text_gc = _gc_adjudicated_post_probe(spark, band)
        if best_text is None or warm < best_text[0]:
            best_text = (warm, cold, pre, post, text_gc, n_compiled)
        if (pre <= band and post <= band) or budget["left"] <= 0:
            break
        print(
            f"# onebrc_text_scan_agg: window contended "
            f"(pre {pre:.3f} post {post:.3f}) — retry {attempt}",
            file=sys.stderr, flush=True,
        )
    warm, cold, pre, post, text_gc, compiles["onebrc_text_scan_agg"] = best_text
    times["onebrc_text_scan_agg"] = warm
    times["onebrc_text_scan_agg_cold"] = cold
    # BOTH text-scan keys get the window's stamp (ADVICE r11): the cold
    # number is timed in the same gated window, and a stampless key is
    # permanently demoted by _trusted whenever query_probes is present —
    # a genuine cold-scan regression could never flag.
    text_stamp = {
        "pre": round(pre, 3), "post": round(post, 3),
        "clean": pre <= band and post <= band, "attempts": attempt,
    }
    if text_gc:
        text_stamp["gc_flush"] = text_gc
    query_probes["onebrc_text_scan_agg"] = text_stamp
    query_probes["onebrc_text_scan_agg_cold"] = dict(text_stamp)
    run_calibration(spark, cal_samples)  # mid-run sample
    for name in HEADLINE:
        fn = fn_for(name)
        best = None
        for attempt in range(1, _MAX_ATTEMPTS + 1):
            pre = _wait_for_calm(spark, band, budget)
            # Re-warm THIS plan immediately before timing. This is
            # measurement protocol, not a guard against recompiles (get_spark
            # sizes the codegen cache to hold every headline class, and
            # `codegen_compiles` in the output shows it): every entry is
            # timed right after a run of its own plan, as in earlier
            # artifacts, so their numbers stay comparable.
            fn(spark, WARMUP_SF_DIR).count()
            # Best of two timed runs: single-shot times on a shared box
            # showed 2-3x run-to-run swings on sub-second queries (GC
            # pauses, page cache, scheduler noise) that read as phantom
            # regressions across rounds; the minimum is the steady-state
            # cost of the PLAN, which is what this bench certifies.
            runs = []
            c0 = codegen_compiles(spark)
            for _ in range(2):
                # ONLY the build entry clears the pair-set memo (each of
                # its runs measures the cold build). Every other query
                # leaves the cache alone: non-consumers never touch it, and
                # the consumers in _KEEP_PAIR_CACHE deliberately run
                # against the warm asset the build entry just paid for (see
                # the HEADLINE note). dedup_cluster_components additionally
                # clears the LABEL memo (clustering._COMPONENTS_CACHE) so
                # each timed run measures the iterative resolution on the
                # warm pair set, not a cache read — in a full drive the
                # other three label consumers share the memo.
                if name == "dedup_minhash_pairs_build":
                    clear_pair_cache()
                    clear_components_cache()  # labels derive from the pairs
                elif name == "dedup_cluster_components":
                    clear_components_cache()
                t0 = time.time()
                df = fn(spark, SF_DIR)
                n = df.count()
                runs.append(time.time() - t0)
            n_compiled = codegen_compiles(spark) - c0
            post, gc_flush = _gc_adjudicated_post_probe(spark, band)
            sec = min(runs)
            # keep the MINIMUM over attempts: contention only inflates, so
            # the fastest attempt is the closest to the plan's true cost —
            # and its window stamps are the ones the artifact reports
            if best is None or sec < best[0]:
                best = (sec, pre, post, n, runs, attempt, gc_flush, n_compiled)
            if (pre <= band and post <= band) or budget["left"] <= 0:
                break
            print(
                f"# {name}: window contended (pre {pre:.3f} post "
                f"{post:.3f}) — retry {attempt}/{_MAX_ATTEMPTS}",
                file=sys.stderr, flush=True,
            )
        sec, pre, post, n, runs, kept_attempt, gc_flush, compiles[name] = best
        times[name] = round(sec, 3)
        query_probes[name] = {
            "pre": round(pre, 3), "post": round(post, 3),
            "clean": pre <= band and post <= band, "attempts": attempt,
        }
        if gc_flush:
            query_probes[name]["gc_flush"] = gc_flush
        print(f"# {name}: {n} rows in {times[name]}s (runs: "
              f"{', '.join(f'{r:.3f}' for r in runs)}; window pre "
              f"{pre:.3f} post {post:.3f} clean="
              f"{query_probes[name]['clean']})", file=sys.stderr, flush=True)

    run_calibration(spark, cal_samples)  # end-of-run sample
    noise_block = compute_noise_block(times, cal_samples, query_probes=query_probes)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": round(
                    sum(v for k, v in times.items() if not k.endswith("_cold")), 3
                ),
                "unit": "sec",
                "queries": times,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "codegen_compiles": compiles,
                **noise_block,
            }
        )
    )


if __name__ == "__main__":
    main()
