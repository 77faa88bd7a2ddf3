#!/usr/bin/env python
"""Two-point scale run for the LLM-pipeline, similarity and eventtime/join
families (VERDICT r6 #4, r8 #6, r9).

The flagship has measured 1e9/2e9-row linearity; the text/dedup family's
100 TB story rested on plan shapes + sf0.1 timings only. This script makes
it a measurement: build a 10x documents corpus, time the four headline
LLM-pipeline operators at 1x and 10x, and report rows/s plus the
super-linearity ratio (time_10x / (10 * time_1x)) — ≤1.3 is the pass bar
(reference analogue: the 1BRC generator invocation `README.MD:19` is the
same two-point protocol at 1e9 scale).

Corpus construction (content-addressed, deterministic): 10 replicas of the
sf0.1 documents table. Replica 0 is verbatim; replica i>0 remaps
doc_id += i * 100_000_000 and applies a PER-REPLICA TOKEN BIJECTION
(every token gets the suffix "~i"). A bijection on the token vocabulary
preserves every within-replica structure EXACTLY — shingle-set Jaccard,
boilerplate document frequencies, BPE pair ranks — while making every
cross-replica shingle distinct, so the verified near-dup pair set and the
hot boilerplate vocabulary each scale exactly 10x. That is the honest
linearity fixture: 10x rows carrying 10x work, no cross-replica pair
explosion (naive replication would make every doc a 10-way near-dup and
grow pairs 45x — a superlinear WORKLOAD, not a scaling measurement).

Timing protocol per (query, scale): one untimed run (codegen warm), two
timed runs, min. dedup_minhash_lsh clears the pair memo before every run
(the cold-build accounting of bench.py's build entry);
dedup_cluster_components clears only the label memo and consumes the warm
pair set (marginal-cost accounting, also bench.py's).

Usage: python scripts/docs_scale_run.py [--base /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from onebrc_spark import registry  # noqa: E402
from onebrc_spark.operators.clustering import clear_components_cache  # noqa: E402
from onebrc_spark.operators.dedup import clear_pair_cache  # noqa: E402
from onebrc_spark.operators.similarity import clear_ivf_cache  # noqa: E402
from onebrc_spark.session import get_spark  # noqa: E402

QUERIES = [
    "dedup_minhash_lsh",
    "text_boilerplate_segments",
    "text_bpe_merge_pairs",
    "dedup_cluster_components",
]
# Similarity family (VERDICT r8 #6): measured separately — their corpus is
# the replica EMBEDDINGS table and their linearity stories differ (see
# embedding_queries in main()).
EMB_QUERIES = ["sim_ann_ivf_sampled", "sim_ann_lsh_banded"]
# Eventtime/join family (r9): measured over the replica EVENTS table —
# user_id/event_id remapped by replica stride, everything else verbatim, so
# every per-user sequence (the unit all three queries partition on) is
# bit-preserved per replica and replicas never interact: 10x users carrying
# exactly 10x work. Representatives of the family's three scale shapes:
# union+window as-of join (J7), grouped exact medians with broadcast
# join-backs (X16b), scaffold+LOCF windows (X10/W3).
EVT_QUERIES = ["join_asof", "evt_anomaly_mad", "evt_gap_fill_locf"]
# 100x program (VERDICT r9 #4): turn the two-point extrapolation into a
# three-point measurement for the graded dedup family, and give the
# eventtime family a data-bound top point (ADVICE r9: its 1x/10x timings
# are fixed-cost dominated — all sub-second — so that ratio alone does not
# measure scaling).
QUERIES_100X = ["dedup_minhash_lsh", "dedup_cluster_components"]
EVT_QUERIES_100X = EVT_QUERIES
# 100x text-curation rows (VERDICT r11 #4): the boilerplate df census and
# the BPE pair explode are the two text shapes whose candidate growth
# could bend at web scale — the same reason the embedding family was the
# r10 target. Both are char-dominated kernels (segment hashing / pair
# census), so the bar applies to the CHAR-normalized ratio, like their
# 10x rows.
TEXT_QUERIES_100X = ["text_boilerplate_segments", "text_bpe_merge_pairs"]
SCALE_ROOT = Path("/tmp/onebrc_docs_scale")
REPLICAS = 10
_ID_STRIDE = 100_000_000
# Below this, a timing is fixed-cost (scheduler/JVM) dominated on this box
# and a superlinearity ratio against it is not a scaling measurement.
_OVERHEAD_FLOOR_SEC = 0.5


def _base_fingerprint(base_sf_dir: str) -> str:
    """Identity of the base fixture the corpora derive from: path plus
    (size, mtime) of every file under the three replicated tables
    (documents/embeddings/events.parquet) — regenerating ANY of them
    changes the fingerprint and forces a corpus rebuild (stale-cache
    guard: SCALE_DOCS.json must never measure data that no longer
    exists)."""
    parts = []
    for table in ("documents.parquet", "embeddings.parquet", "events.parquet"):
        base = Path(base_sf_dir) / table
        parts.append(str(base))
        files = sorted(base.rglob("*")) if base.is_dir() else [base]
        for p in files:
            st = p.stat()
            parts.append(f"{p.name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def build_corpora(spark, base_sf_dir: str) -> tuple[str, str, str]:
    """Write sf1x (verbatim copy), sf10x (token-bijection replicas) and
    sf100x (second-level bijection over sf10x — documents and events only),
    all through the same Spark writer so file layout scales with data
    (≈6 MiB/file at every point — split-count parity per byte)."""
    docs = spark.read.parquet(f"{base_sf_dir}/documents.parquet")
    # Bijection invariant, asserted explicitly (ADVICE r10): the replica
    # suffixes "~i" (sf10x) and "~~j" (sf100x) are pairwise-disjoint ONLY if
    # no base token itself contains '~' — a base token 'x~' would get
    # level-1 suffix '~3' yielding 'x~~3', colliding with the level-2
    # (i=0,j=3) token 'x~~3' from base 'x' and planting cross-replica
    # near-dups that only dedup_minhash_lsh's 5% drift assert would catch,
    # indirectly. One cheap corpus pass makes the invariant explicit.
    n_tilde = (
        docs.filter(F.col("text").contains("~")).limit(1).count()
    )
    assert n_tilde == 0, (
        "base corpus contains '~' — the replica token bijection "
        "(~i / ~~j suffixes) would not be cross-replica disjoint"
    )
    one = SCALE_ROOT / "sf1x"
    ten = SCALE_ROOT / "sf10x"
    hundred = SCALE_ROOT / "sf100x"
    marker = SCALE_ROOT / "BASE_FINGERPRINT"
    fp = _base_fingerprint(base_sf_dir)
    # A marker that is absent-or-stale while corpora exist means the data's
    # provenance is unknown (older script version, partial cleanup) —
    # rebuild rather than stamp stale data with the new fingerprint; the
    # marker is written only AFTER both corpora carry _SUCCESS (ADVICE r7).
    if marker.exists():
        stale = marker.read_text() != fp
    else:
        stale = one.exists() or ten.exists() or hundred.exists()
    if stale:
        import shutil

        print("# base fixture changed or marker missing — rebuilding scale "
              "corpora", file=sys.stderr)
        shutil.rmtree(one, ignore_errors=True)
        shutil.rmtree(ten, ignore_errors=True)
        shutil.rmtree(hundred, ignore_errors=True)
    SCALE_ROOT.mkdir(parents=True, exist_ok=True)
    if not (one / "documents.parquet" / "_SUCCESS").exists():
        docs.repartition(2).write.mode("overwrite").parquet(
            str(one / "documents.parquet")
        )
    if not (ten / "documents.parquet" / "_SUCCESS").exists():
        parts = []
        for i in range(REPLICAS):
            d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * _ID_STRIDE))
            if i > 0:
                # token bijection: suffix every non-empty token with "~i"
                # (empty tokens from doubled spaces stay empty, preserving
                # tokenizer-edge behavior replica-for-replica)
                d = d.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda t: F.when(t == "", t).otherwise(
                                F.concat(t, F.lit(f"~{i}"))
                            ),
                        ),
                        " ",
                    ),
                )
                if "n_chars" in docs.columns:
                    d = d.withColumn("n_chars", F.length("text"))
            parts.append(d)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(20).write.mode("overwrite").parquet(
            str(ten / "documents.parquet")
        )
    # Embedding replicas (VERDICT r8 #6): replica i cyclically SHIFTS the
    # 64 coordinates by (i * 7) % 64. A shared permutation of both sides
    # preserves every within-replica dot product and norm EXACTLY (the
    # within-replica cosine structure is bit-preserved), while
    # cross-replica cosines decorrelate to the base corpus's near-uniform
    # random regime — replicas neither duplicate (cos=1 twins would make
    # every vector a 10-way near-dup) nor interact structurally.
    emb = spark.read.parquet(f"{base_sf_dir}/embeddings.parquet")
    if not (one / "embeddings.parquet" / "_SUCCESS").exists():
        emb.repartition(2).write.mode("overwrite").parquet(
            str(one / "embeddings.parquet")
        )
    if not (ten / "embeddings.parquet" / "_SUCCESS").exists():
        parts = []
        for i in range(REPLICAS):
            d = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * _ID_STRIDE))
            k = (i * 7) % 64
            if k:
                d = d.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", k + 1, 64 - k),
                        F.slice("embedding", 1, k),
                    ),
                )
            parts.append(d)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(20).write.mode("overwrite").parquet(
            str(ten / "embeddings.parquet")
        )
    # Event replicas (r9, eventtime/join family): replica i remaps the two
    # id columns by stride and copies ts/event_type/value/props VERBATIM —
    # every per-user event sequence (funnel order, as-of matches, daily
    # scaffold span) is bit-preserved within its replica, and since every
    # measured query partitions on user_id (or aggregates replica-invariant
    # value distributions per event_type), replicas never interact: the
    # workload is exactly 10x, no cross-replica term to corrupt linearity.
    ev = spark.read.parquet(f"{base_sf_dir}/events.parquet")
    if not (one / "events.parquet" / "_SUCCESS").exists():
        ev.repartition(2).write.mode("overwrite").parquet(
            str(one / "events.parquet")
        )
    if not (ten / "events.parquet" / "_SUCCESS").exists():
        parts = []
        for i in range(REPLICAS):
            parts.append(
                ev.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * _ID_STRIDE)
                ).withColumn("user_id", F.col("user_id") + F.lit(i * _ID_STRIDE))
            )
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(20).write.mode("overwrite").parquet(
            str(ten / "events.parquet")
        )
    # sf100x (VERDICT r9 #4): 10 second-level replicas OF the materialized
    # sf10x corpus — documents and events only (the embedding family's 100x
    # story is not part of the graded program). The second-level suffix is
    # "~~j" (double tilde), NOT "~j": first-level replica (i=3, j=0) tokens
    # end "~3" and a single-tilde second level would make replica (i=0, j=3)
    # tokens end "~3" too — identical vocabularies, i.e. full cross-replica
    # duplicate documents, a 2-way near-dup explosion instead of a scaling
    # fixture. With "~~j" every (i, j) vocabulary is pairwise disjoint and
    # within-replica structure stays bit-preserved, so the true pair set is
    # exactly 100x the base. Events remap both id columns by a 10x-sized
    # stride; sequences stay verbatim per user.
    docs10 = spark.read.parquet(str(ten / "documents.parquet"))
    if not (hundred / "documents.parquet" / "_SUCCESS").exists():
        parts = []
        for j in range(REPLICAS):
            d = docs10.withColumn(
                "doc_id", F.col("doc_id") + F.lit(j * REPLICAS * _ID_STRIDE)
            )
            if j > 0:
                d = d.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda t: F.when(t == "", t).otherwise(
                                F.concat(t, F.lit(f"~~{j}"))
                            ),
                        ),
                        " ",
                    ),
                )
                if "n_chars" in docs10.columns:
                    d = d.withColumn("n_chars", F.length("text"))
            parts.append(d)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(200).write.mode("overwrite").parquet(
            str(hundred / "documents.parquet")
        )
    # sf100x embeddings (VERDICT r10 #4): 10 second-level replicas of the
    # sf10x embeddings. The second-level transform is a per-replica SIGN
    # PATTERN (coordinate k of replica j flips iff xxhash64(j, k) is odd) —
    # NOT another cyclic shift: shifts compose additively mod 64, so with
    # 100 (i, j) replicas over 64 possible shifts some pairs would share
    # the total shift and be bit-identical cos=1 twins (a 2-way near-dup
    # explosion, not a scaling fixture). A sign flip is a diagonal
    # orthogonal transform: applied to BOTH vectors of a within-replica
    # pair every product p_k·x_k · p_k·y_k = x_k·y_k is bit-preserved
    # (negation is exact in IEEE), so within-replica cosine structure is
    # exact; across replicas the relative transform flip∘shift∘flip is a
    # signed permutation ≠ identity, putting cross-replica cosines in the
    # base corpus's near-uniform regime — replicas never interact.
    emb10 = spark.read.parquet(str(ten / "embeddings.parquet"))
    if not (hundred / "embeddings.parquet" / "_SUCCESS").exists():
        parts = []
        for j in range(REPLICAS):
            d = emb10.withColumn(
                "vec_id", F.col("vec_id") + F.lit(j * REPLICAS * _ID_STRIDE)
            )
            if j > 0:
                def _flip(jv):
                    # closure, not a default arg: pyspark infers the lambda
                    # arity from the signature, and (x, k, _j=j) reads as a
                    # 3-arg lambda transform() rejects
                    return lambda x, k: F.when(
                        F.xxhash64(F.lit(jv), k).bitwiseAND(F.lit(1)) == 1,
                        -x,
                    ).otherwise(x)

                d = d.withColumn("embedding", F.transform("embedding", _flip(j)))
            parts.append(d)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(200).write.mode("overwrite").parquet(
            str(hundred / "embeddings.parquet")
        )
    ev10 = spark.read.parquet(str(ten / "events.parquet"))
    if not (hundred / "events.parquet" / "_SUCCESS").exists():
        parts = []
        for j in range(REPLICAS):
            parts.append(
                ev10.withColumn(
                    "event_id",
                    F.col("event_id") + F.lit(j * REPLICAS * _ID_STRIDE),
                ).withColumn(
                    "user_id",
                    F.col("user_id") + F.lit(j * REPLICAS * _ID_STRIDE),
                )
            )
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(200).write.mode("overwrite").parquet(
            str(hundred / "events.parquet")
        )
    for tbl in ("documents.parquet", "embeddings.parquet", "events.parquet"):
        assert (one / tbl / "_SUCCESS").exists()
        assert (ten / tbl / "_SUCCESS").exists()
    for tbl in ("documents.parquet", "embeddings.parquet", "events.parquet"):
        assert (hundred / tbl / "_SUCCESS").exists()
    marker.write_text(fp)
    return str(one), str(ten), str(hundred)


def time_query(spark, name: str, sf_dir: str) -> tuple[float, int]:
    fn = registry.load_all()[name].fn

    def clears():
        if name == "dedup_minhash_lsh":
            clear_pair_cache()
            clear_components_cache()
        elif name == "dedup_cluster_components":
            clear_components_cache()
        elif name == "sim_ann_ivf_sampled":
            # cold-build accounting: each timed run pays the fit + the
            # cell-assignment materialization, not a memo read
            clear_ivf_cache()

    clears()
    n = fn(spark, sf_dir).count()  # untimed codegen warm
    runs = []
    for _ in range(2):
        clears()
        t0 = time.time()
        fn(spark, sf_dir).count()
        runs.append(time.time() - t0)
    return round(min(runs), 3), n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark("onebrc_docs_scale")
    spark.range(1).count()
    one, ten, hundred = build_corpora(spark, args.base)

    def census(d):
        r = (
            spark.read.parquet(f"{d}/documents.parquet")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("text")).alias("chars"),
            )
            .collect()[0]
        )
        return r["n"], int(r["chars"])

    n1, c1 = census(one)
    n10, c10 = census(ten)
    # the "~i" suffixes inflate CHARS beyond 10x (tokens stay exactly 10x);
    # char-dominated kernels (BPE pair census, segment hashing) are judged
    # on the char-normalized ratio, token-dominated ones on the doc ratio
    char_ratio = c10 / c1
    print(
        f"# corpora: 1x={n1} docs/{c1} chars, 10x={n10} docs/{c10} chars "
        f"(char ratio {char_ratio:.2f}x, token/doc ratio {n10 / n1:.0f}x)",
        file=sys.stderr,
    )

    results = {}
    for name in QUERIES:
        t1, rows1 = time_query(spark, name, one)
        t10, rows10 = time_query(spark, name, ten)
        if name in ("dedup_minhash_lsh", "dedup_cluster_components"):
            # the token bijection preserves exact-Jaccard structure per
            # replica and forbids cross-replica pairs, so the TRUE pair set
            # is exactly 10x — but banded LSH recall on borderline pairs
            # (0.7 <= J < ~0.9) depends on the shingle HASH space, which the
            # suffixes change per replica (measured: 2555/2560 = -0.2%).
            # 5% tolerance separates that from a broken fixture (cross-
            # replica pairs would overshoot, a wrong bijection undershoots
            # by whole replicas).
            drift = abs(rows10 - REPLICAS * rows1) / (REPLICAS * rows1)
            assert drift < 0.05, (
                f"{name}: result rows {rows10} vs ~{REPLICAS * rows1} "
                f"expected ({drift:.1%} drift) — fixture bijection broken"
            )
        results[name] = {
            "sec_1x": t1,
            "sec_10x": t10,
            "result_rows_1x": rows1,
            "result_rows_10x": rows10,
            "docs_per_sec_10x": round(n10 / t10),
            "superlinearity_docs": round(t10 / ((n10 / n1) * t1), 3),
            "superlinearity_chars": round(t10 / (char_ratio * t1), 3),
        }
        print(f"# {name}: 1x {t1}s ({rows1} rows) | 10x {t10}s ({rows10} rows) "
              f"| superlinearity docs {results[name]['superlinearity_docs']}x "
              f"chars {results[name]['superlinearity_chars']}x",
              file=sys.stderr, flush=True)

    # --- similarity family over the replica EMBEDDINGS (VERDICT r8 #6) ---
    # Two different linearity stories, measured separately from the text
    # family because their output/workload scaling differs:
    #   sim_ann_ivf_sampled — linear BY DESIGN at any corpus (fixed-m fit,
    #     linear cell assignment, |Q|-bounded audit): judged on
    #     superlinearity_docs <= 1.3 like the text family.
    #   sim_ann_lsh_banded — the registered query uses FIXED rows_per_band
    #     (2^12 buckets/band), so within-bucket candidate mass grows
    #     quadratically with occupancy on a near-uniform corpus; the design
    #     rule (banded_lsh_buckets: rows ≈ log2(N) + c) says to DEEPEN the
    #     bands as N grows. Both are measured: the fixed-rows run
    #     demonstrates the quadratic term the rule exists to kill, the
    #     rows-adapted run (12 → 15 at 10x, restoring ~1x occupancy) is the
    #     scale-path number held to the 1.3 bar.
    from onebrc_spark.operators.similarity import (  # noqa: E402
        _ANN_COS_MIN,
        _STATS_BANDS,
        _STATS_ROWS,
        banded_lsh_buckets,
        cos_round6,
        cosine,
    )
    from onebrc_spark.sources.catalog import load_table, spread  # noqa: E402

    def banded_pairs_at_rows(sf_dir: str, rows: int):
        e = spread(load_table(spark, sf_dir, "embeddings"), spark)
        b = banded_lsh_buckets(e, _STATS_BANDS, rows)
        a, bb = b.alias("a"), b.alias("b")
        return (
            a.join(
                bb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cos_round6(cosine("a.embedding", "b.embedding")).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= _ANN_COS_MIN)
            .distinct()
        )

    def time_df(mk) -> tuple[float, int]:
        n = mk().count()  # untimed codegen warm
        runs = []
        for _ in range(2):
            t0 = time.time()
            mk().count()
            runs.append(time.time() - t0)
        return round(min(runs), 3), n

    emb_results = {}
    for name in EMB_QUERIES:
        t1, rows1 = time_query(spark, name, one)
        t10, rows10 = time_query(spark, name, ten)
        emb_results[name] = {
            "sec_1x": t1,
            "sec_10x": t10,
            "result_rows_1x": rows1,
            "result_rows_10x": rows10,
            "superlinearity_docs": round(t10 / ((n10 / n1) * t1), 3),
        }
        print(
            f"# {name}: 1x {t1}s ({rows1} rows) | 10x {t10}s ({rows10} rows)"
            f" | superlinearity docs "
            f"{emb_results[name]['superlinearity_docs']}x",
            file=sys.stderr, flush=True,
        )
    assert emb_results["sim_ann_ivf_sampled"]["result_rows_1x"] == \
        emb_results["sim_ann_ivf_sampled"]["result_rows_10x"], (
        "IVF audit must stay |Q|-row-bounded at any scale"
    )
    ta1, pairs_a1 = time_df(lambda: banded_pairs_at_rows(one, _STATS_ROWS))
    ta10, pairs_a10 = time_df(lambda: banded_pairs_at_rows(ten, _STATS_ROWS + 3))
    emb_results["sim_ann_lsh_banded_adapted_rows"] = {
        "rows_per_band_1x": _STATS_ROWS,
        "rows_per_band_10x": _STATS_ROWS + 3,
        "sec_1x": ta1,
        "sec_10x": ta10,
        "result_rows_1x": pairs_a1,
        "result_rows_10x": pairs_a10,
        "superlinearity_docs": round(ta10 / ((n10 / n1) * ta1), 3),
    }
    print(
        f"# sim_ann_lsh_banded_adapted_rows: 1x {ta1}s ({pairs_a1} pairs) | "
        f"10x {ta10}s ({pairs_a10} pairs) | superlinearity docs "
        f"{emb_results['sim_ann_lsh_banded_adapted_rows']['superlinearity_docs']}x",
        file=sys.stderr, flush=True,
    )

    # --- eventtime/join family over the replica EVENTS (r9) ---
    # All three are judged on superlinearity_docs <= 1.3 (events scale
    # exactly 10x by construction). Output structure is asserted, not
    # hoped: the per-user queries must emit EXACTLY 10x rows (replicas are
    # verbatim per user), the per-type aggregate exactly the same rows
    # (event_type is replica-invariant) — any deviation means the replica
    # fixture interacted across replicas and the timing is measuring a
    # different workload.
    evt_results = {}
    for name in EVT_QUERIES:
        t1, rows1 = time_query(spark, name, one)
        t10, rows10 = time_query(spark, name, ten)
        if name == "evt_anomaly_mad":
            assert rows10 == rows1, (name, rows1, rows10)
        else:
            assert rows10 == REPLICAS * rows1, (name, rows1, rows10)
        evt_results[name] = {
            "sec_1x": t1,
            "sec_10x": t10,
            "result_rows_1x": rows1,
            "result_rows_10x": rows10,
            "superlinearity_docs": round(t10 / (REPLICAS * t1), 3),
            # ADVICE r9: when the 1x time is below the fixed-cost floor the
            # ratio above does not measure data-bound work — the 100x rows
            # below carry the family's real scaling signal.
            "overhead_dominated": t1 < _OVERHEAD_FLOOR_SEC,
        }
        print(
            f"# {name}: 1x {t1}s ({rows1} rows) | 10x {t10}s ({rows10} rows)"
            f" | superlinearity docs "
            f"{evt_results[name]['superlinearity_docs']}x"
            + (" (overhead-dominated 1x point)"
               if evt_results[name]["overhead_dominated"] else ""),
            file=sys.stderr, flush=True,
        )

    # --- 100x point (VERDICT r9 #4 + ADVICE r9) ---
    # Dedup family: the three-point linearity measurement. Event family:
    # the first data-bound pair (the 1x/10x event timings are sub-second —
    # fixed-cost dominated — so their two-point ratio is vacuous; 100x puts
    # the top point well above the floor). Ratios are reported against BOTH
    # lower points; the bar applies to the vs-1x docs-normalized ratio, and
    # to vs-10x only when the 10x point itself cleared the floor.
    results_100x = {}
    for name in QUERIES_100X:
        t100, rows100 = time_query(spark, name, hundred)
        base_row = results[name]
        t1, t10 = base_row["sec_1x"], base_row["sec_10x"]
        results_100x[name] = {
            "sec_100x": t100,
            "result_rows_100x": rows100,
            "superlinearity_docs_vs_1x": round(t100 / (100 * t1), 3),
            "superlinearity_vs_10x": round(t100 / (10 * t10), 3),
            "low_point_overhead_dominated": t10 < _OVERHEAD_FLOOR_SEC,
        }
        if name == "dedup_minhash_lsh":
            exp = 100 * base_row["result_rows_1x"]
            drift = abs(rows100 - exp) / exp
            assert drift < 0.05, (
                f"{name}: 100x result rows {rows100} vs ~{exp} expected "
                f"({drift:.1%} drift) — second-level bijection broken"
            )
        print(
            f"# {name} @100x: {t100}s ({rows100} rows) | superlinearity "
            f"vs 1x {results_100x[name]['superlinearity_docs_vs_1x']}x, "
            f"vs 10x {results_100x[name]['superlinearity_vs_10x']}x",
            file=sys.stderr, flush=True,
        )
    # --- text-curation family at 100x (VERDICT r11 #4) ---
    # Char accounting: the "~~j" suffixes inflate chars beyond 100x of the
    # base exactly as the 10x suffixes did, so the family's bar rides the
    # char-normalized ratio (segment hashing and pair censuses do work per
    # CHAR, not per doc). Structure asserts pin the no-interaction
    # property: the boilerplate ledger stays one row per source (sources
    # are replica-invariant; every per-replica segment vocabulary is
    # disjoint, so dfs are preserved per replica), and the BPE census's
    # LIMIT-bounded output stays fixed-size at any corpus.
    n100_pre, c100_pre = census(hundred)
    text_results_100x = {}
    for name in TEXT_QUERIES_100X:
        t100, rows100 = time_query(spark, name, hundred)
        base_row = results[name]
        t1, t10 = base_row["sec_1x"], base_row["sec_10x"]
        assert rows100 == base_row["result_rows_1x"], (
            f"{name}: 100x output shape changed ({rows100} vs "
            f"{base_row['result_rows_1x']} rows) — the ledger/top-k output "
            f"is corpus-size-invariant by construction; the replica fixture "
            f"interacted across replicas"
        )
        text_results_100x[name] = {
            "sec_100x": t100,
            "result_rows_100x": rows100,
            "superlinearity_docs_vs_1x": round(t100 / (100 * t1), 3),
            "superlinearity_chars_vs_1x": round(t100 / ((c100_pre / c1) * t1), 3),
            "superlinearity_vs_10x": round(t100 / ((c100_pre / c10) * t10), 3),
            "low_point_overhead_dominated": t10 < _OVERHEAD_FLOOR_SEC,
        }
        print(
            f"# {name} @100x: {t100}s ({rows100} rows) | superlinearity "
            f"chars vs 1x "
            f"{text_results_100x[name]['superlinearity_chars_vs_1x']}x, "
            f"vs 10x {text_results_100x[name]['superlinearity_vs_10x']}x",
            file=sys.stderr, flush=True,
        )

    # --- X2c asymmetric containment, three-point (VERDICT r12 #2) ---
    # The token bijection is EXACT for this operator: grams are literal
    # word-3-grams (no hashing anywhere in the plan), replica vocabularies
    # are disjoint, so the per-gram df census, the hot-gram exclusion and
    # the bounded posting lists are reproduced replica-for-replica — the
    # true pair set is EXACTLY k× the base (asserted ==, not
    # drift-tolerant like the hash-space-dependent minhash rows) and
    # cross-replica pairs are impossible (no shared gram).
    from onebrc_spark.operators.dedup import _CONTAIN_DF_CAP  # noqa: E402

    tc1, rc1 = time_query(spark, "dedup_overlap_containment", one)
    tc10, rc10 = time_query(spark, "dedup_overlap_containment", ten)
    assert rc1 > 0, "containment fixture vacuous at 1x"
    assert rc10 == REPLICAS * rc1, (rc1, rc10)
    tc100, rc100 = time_query(spark, "dedup_overlap_containment", hundred)
    assert rc100 == REPLICAS * REPLICAS * rc1, (rc1, rc100)
    cont = {
        "sec_1x": tc1,
        "sec_10x": tc10,
        "sec_100x": tc100,
        "result_rows_1x": rc1,
        "result_rows_10x": rc10,
        "result_rows_100x": rc100,
        "superlinearity_docs_10x_vs_1x": round(tc10 / (REPLICAS * tc1), 3),
        "superlinearity_docs_vs_1x": round(tc100 / (100 * tc1), 3),
        "superlinearity_vs_10x": round(tc100 / (REPLICAS * tc10), 3),
        "low_point_overhead_dominated": tc10 < _OVERHEAD_FLOOR_SEC,
    }
    print(
        f"# dedup_overlap_containment: 1x {tc1}s ({rc1} rows) | 10x {tc10}s "
        f"({rc10} rows) | 100x {tc100}s ({rc100} rows) | superlinearity "
        f"vs 1x {cont['superlinearity_docs_vs_1x']}x, vs 10x "
        f"{cont['superlinearity_vs_10x']}x",
        file=sys.stderr, flush=True,
    )

    # Hot-gram stress (VERDICT r12 #2, second half): 20,000 injected
    # one-gram documents share a single gram with df = 20,000 >> the cap
    # (64). The pre-r12 posting-list plan would buffer a 20,000-id list on
    # that one gram and emit C(20000, 2) ≈ 2.0e8 candidate pairs; the
    # census-bounded plan counts it map-side, drops it in the broadcast
    # anti-join, and NO posting list materializes — the result is
    # bit-identical to the base corpus and the added cost is a linear scan
    # of the injected rows.
    hot_dir = SCALE_ROOT / "sf1x_hotgram"
    HOT_DOCS = 20_000
    if not (hot_dir / "documents.parquet" / "_SUCCESS").exists():
        hot_text = "zqhotstress0 zqhotstress1 zqhotstress2"
        injected = spark.range(HOT_DOCS).select(
            (F.col("id") + F.lit(9_000_000_000)).alias("doc_id"),
            F.lit(hot_text).alias("text"),
            F.lit("xx").alias("lang"),
            F.lit("hotgram_stress").alias("source"),
            F.lit(len(hot_text)).cast("long").alias("n_chars"),
        )
        spark.read.parquet(f"{one}/documents.parquet").unionByName(
            injected
        ).repartition(4).write.mode("overwrite").parquet(
            str(hot_dir / "documents.parquet")
        )
    th, rh = time_query(spark, "dedup_overlap_containment", str(hot_dir))
    assert rh == rc1, (
        f"hot-gram stress changed the pair set ({rh} vs {rc1}) — the "
        f"df > cap gram must be excluded by the census, not joined"
    )
    cont["hot_gram_stress"] = {
        "injected_docs": HOT_DOCS,
        "hot_gram_df": HOT_DOCS,
        "df_cap": _CONTAIN_DF_CAP,
        "sec": th,
        "result_rows": rh,
        "sec_vs_1x": round(th / tc1, 3),
        "naive_pair_fanout_avoided": HOT_DOCS * (HOT_DOCS - 1) // 2,
    }
    print(
        f"# dedup_overlap_containment hot-gram stress (df={HOT_DOCS} >> "
        f"cap={_CONTAIN_DF_CAP}): {th}s, rows {rh} (== 1x), "
        f"{cont['hot_gram_stress']['sec_vs_1x']}x the 1x time",
        file=sys.stderr, flush=True,
    )

    evt_results_100x = {}
    for name in EVT_QUERIES_100X:
        t100, rows100 = time_query(spark, name, hundred)
        base_row = evt_results[name]
        t1, t10 = base_row["sec_1x"], base_row["sec_10x"]
        if name == "evt_anomaly_mad":
            assert rows100 == base_row["result_rows_1x"], (name, rows100)
        else:
            assert rows100 == 100 * base_row["result_rows_1x"], (name, rows100)
        evt_results_100x[name] = {
            "sec_100x": t100,
            "result_rows_100x": rows100,
            "superlinearity_docs_vs_1x": round(t100 / (100 * t1), 3),
            "superlinearity_vs_10x": round(t100 / (10 * t10), 3),
            "low_point_overhead_dominated": t10 < _OVERHEAD_FLOOR_SEC,
        }
        print(
            f"# {name} @100x: {t100}s ({rows100} rows) | superlinearity "
            f"vs 1x {evt_results_100x[name]['superlinearity_docs_vs_1x']}x, "
            f"vs 10x {evt_results_100x[name]['superlinearity_vs_10x']}x",
            file=sys.stderr, flush=True,
        )

    # --- similarity family at 100x (VERDICT r10 #4) ---
    # The family where candidate-pair growth is the 100 TB risk, measured
    # at 200k vectors. Two rows, same accounting as 1x/10x:
    #   sim_ann_ivf_sampled — cold fit per run (clear_ivf_cache inside
    #     time_query), |Q|-bounded audit output asserted UNCHANGED.
    #   banded LSH, rows-ADAPTED (12 → 12+7: rows ≈ log2(N) + c with
    #     N up 100x, restoring ~1x bucket occupancy) — the scale path,
    #     held to the bar. The FIXED-rows variant is deliberately NOT run
    #     at 100x: its candidate mass there (~N²·bands/2^rows ≈ 19M pairs)
    #     IS the quadratic workload the design rule exists to avoid, and
    #     the 1x/10x pair demonstrates the term already.
    emb_results_100x = {}
    t100, rows100 = time_query(spark, "sim_ann_ivf_sampled", hundred)
    ivf_base = emb_results["sim_ann_ivf_sampled"]
    assert rows100 == ivf_base["result_rows_1x"], (
        "IVF audit must stay |Q|-row-bounded at 100x",
        rows100,
        ivf_base["result_rows_1x"],
    )
    emb_results_100x["sim_ann_ivf_sampled"] = {
        "sec_100x": t100,
        "result_rows_100x": rows100,
        "superlinearity_docs_vs_1x": round(t100 / (100 * ivf_base["sec_1x"]), 3),
        "superlinearity_vs_10x": round(t100 / (10 * ivf_base["sec_10x"]), 3),
        "low_point_overhead_dominated": ivf_base["sec_10x"]
        < _OVERHEAD_FLOOR_SEC,
    }
    print(
        f"# sim_ann_ivf_sampled @100x: {t100}s ({rows100} rows) | "
        f"superlinearity vs 1x "
        f"{emb_results_100x['sim_ann_ivf_sampled']['superlinearity_docs_vs_1x']}x,"
        f" vs 10x "
        f"{emb_results_100x['sim_ann_ivf_sampled']['superlinearity_vs_10x']}x",
        file=sys.stderr, flush=True,
    )
    ta100, pairs_a100 = time_df(
        lambda: banded_pairs_at_rows(hundred, _STATS_ROWS + 7)
    )
    ab = emb_results["sim_ann_lsh_banded_adapted_rows"]
    emb_results_100x["sim_ann_lsh_banded_adapted_rows"] = {
        "rows_per_band_100x": _STATS_ROWS + 7,
        "sec_100x": ta100,
        "result_rows_100x": pairs_a100,
        "superlinearity_docs_vs_1x": round(ta100 / (100 * ab["sec_1x"]), 3),
        "superlinearity_vs_10x": round(ta100 / (10 * ab["sec_10x"]), 3),
        "low_point_overhead_dominated": ab["sec_10x"] < _OVERHEAD_FLOOR_SEC,
    }
    # Structure note — NOT a docs-style drift assert: at _ANN_COS_MIN=0.30
    # in 64 dims a pair-preserving replica fixture is IMPOSSIBLE for
    # embeddings. Any orthogonal transform of the base corpus leaves
    # cross-replica cosines ~N(0, 1/sqrt(64)=0.125), so P(cos >= 0.30) ~
    # 0.8% of cross-replica vector pairs is inherent background workload —
    # measured live: 10x fixed-rows found 16546 pairs vs 1600 within-
    # replica (the r8-r10 artifacts carry the same growth). The output
    # mass therefore scales ~N^2*P(cos>=t) BY THE SEMANTICS of a fixed
    # similarity threshold on random-ish vectors, and the scale claim held
    # to the bar is the TIME ratio (engine cost tracking docs + the
    # banding-bounded candidate mass), not output linearity. Monotone
    # sanity only:
    assert pairs_a100 > ab["result_rows_10x"], (
        "100x banded pairs should exceed the 10x count",
        pairs_a100,
        ab["result_rows_10x"],
    )
    print(
        f"# sim_ann_lsh_banded_adapted_rows @100x (rows "
        f"{_STATS_ROWS + 7}): {ta100}s ({pairs_a100} pairs) | "
        f"superlinearity vs 1x "
        f"{emb_results_100x['sim_ann_lsh_banded_adapted_rows']['superlinearity_docs_vs_1x']}x"
        f", vs 10x "
        f"{emb_results_100x['sim_ann_lsh_banded_adapted_rows']['superlinearity_vs_10x']}x",
        file=sys.stderr, flush=True,
    )

    n100, c100 = n100_pre, c100_pre
    assert n100 == 100 * n1, (n1, n100)
    doc = {
        "base": args.base,
        "docs_1x": n1,
        "docs_10x": n10,
        "docs_100x": n100,
        "chars_1x": c1,
        "chars_10x": c10,
        "chars_100x": c100,
        "queries": results,
        "queries_100x": results_100x,
        "containment": cont,
        "text_queries_100x": text_results_100x,
        "embedding_queries": emb_results,
        "embedding_queries_100x": emb_results_100x,
        "event_queries": evt_results,
        "event_queries_100x": evt_results_100x,
    }

    # Banded-recall structure at both scales, measured by the REGISTERED
    # audit query (VERDICT r7 #5) instead of inferred from pair counts:
    # per Jaccard class, truth pairs / banding-recovered pairs / exact-
    # integer ppm. The class to watch is 'borderline' (0.7 <= J < 0.9) —
    # its recall is shingle-hash-space dependent, so 1x vs 10x (different
    # token vocabularies per replica) bounds the hash-space sensitivity the
    # bijection narrative used to assert from 2555-vs-2560 row counts.
    # Values only, not timed linearity: the audit's truth side is blocked
    # all-pairs (quadratic per block; replicas share block keys), which at
    # 100 TB runs on a block-sample by design — see the query docstring.
    audit = registry.load_all()["dedup_minhash_recall_audit"].fn

    def audit_rows(d):
        return {
            r["jclass"]: {
                "n_truth": r["n_truth"],
                "n_found": r["n_found"],
                "recall_ppm": r["recall_ppm"],
            }
            for r in audit(spark, d).collect()
        }

    doc["recall_audit"] = {"1x": audit_rows(one), "10x": audit_rows(ten)}
    print(f"# recall_audit: {json.dumps(doc['recall_audit'])}", file=sys.stderr)

    # 100x minhash-recall point (VERDICT r12 #3, text side): the truth
    # join is quadratic-per-block and replicas SHARE block keys (lang and
    # len_bucket are replica-invariant), so full-corpus truth at 100x
    # costs ~10^4x the base — the deployable protocol (the query
    # docstring's "block-sample" note, now executable as
    # minhash_recall_audit_frame) restricts TRUTH to a deterministic
    # replica sample while the candidate machinery (digest collapse,
    # banding, occupancy caps) runs on the FULL 100x corpus: recall of
    # the production index, measured on an affordable truth slice.
    # Replicas (0,0) and (3,4) — indices 0 and 43 of 100, one verbatim
    # vocabulary and one doubly-suffixed — bound the hash-space
    # sensitivity the same way the 1x/10x pair does.
    from onebrc_spark.operators.dedup import (  # noqa: E402
        minhash_recall_audit_frame,
    )
    from onebrc_spark.sources.catalog import (  # noqa: E402
        load_table as _load,
        spread as _spread,
    )

    d100 = _spread(_load(spark, hundred, "documents"), spark)
    rep_idx = F.expr(f"doc_id div {_ID_STRIDE}")
    truth_side = d100.filter(rep_idx.isin(0, 43))
    t_aud0 = time.time()
    sampled = {
        r["jclass"]: {
            "n_truth": r["n_truth"],
            "n_found": r["n_found"],
            "recall_ppm": r["recall_ppm"],
        }
        for r in minhash_recall_audit_frame(d100, truth_side).collect()
    }
    doc["recall_audit"]["100x_truth_sample"] = {
        "classes": sampled,
        "truth_replicas": [0, 43],
        "truth_fraction": 0.02,
        "candidates": "full 100x production pipeline",
        "sec": round(time.time() - t_aud0, 3),
    }
    print(
        f"# recall_audit 100x (truth sample 2/100 replicas): "
        f"{json.dumps(doc['recall_audit']['100x_truth_sample'])}",
        file=sys.stderr,
    )

    # --- banded-ANN recall at the ADAPTED (bands, rows) frontier
    # (VERDICT r12 #3) --- sim_ann_lsh_banded_adapted_rows is the steepest
    # cost curve in this file (0.619 on the 10x->100x pair); this block
    # prices its QUALITY at every point of that curve: recall of the
    # adapted banded candidate generator against exact brute-force truth
    # (|Q|*N cosine strip, |Q| <= _AUDIT_BUDGET base-replica queries) for
    # pairs at the production threshold (cos >= _ANN_COS_MIN). Classes:
    # 'strong' cos >= 0.5 (structured within-replica neighbors),
    # 'borderline' [0.30, 0.5) — at 10x/100x dominated by the inherent
    # cross-replica random-cosine background (see the structure note
    # above), which is exactly the mass the bands must still surface.
    from onebrc_spark.operators.similarity import (  # noqa: E402
        _AUDIT_BUDGET,
        _AUDIT_Q_MOD,
    )

    def ann_recall_at_rows(sf_dir: str, rows: int) -> dict:
        e = spread(load_table(spark, sf_dir, "embeddings"), spark)
        q = e.filter(
            (F.col("vec_id") % _AUDIT_Q_MOD == 0)
            & (F.col("vec_id") < _AUDIT_Q_MOD * _AUDIT_BUDGET)
        ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        truth = (
            e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
            .withColumn(
                "cos_sim", cos_round6(cosine("qv", "embedding"))
            )
            .filter(F.col("cos_sim") >= _ANN_COS_MIN)
            .select("qid", "vec_id", "cos_sim")
        )
        cb = banded_lsh_buckets(e, _STATS_BANDS, rows).select(
            "vec_id", "band", "bucket"
        )
        qb = banded_lsh_buckets(
            q.select(F.col("qid").alias("vec_id"), F.col("qv").alias("embedding")),
            _STATS_BANDS,
            rows,
        ).select(F.col("vec_id").alias("qid"), "band", "bucket")
        cand = (
            cb.join(F.broadcast(qb), ["band", "bucket"])
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id")
            .distinct()
            .withColumn("found", F.lit(1))
        )
        t0 = time.time()
        rows_out = (
            truth.join(F.broadcast(cand), ["qid", "vec_id"], "left")
            .withColumn(
                "cclass",
                F.when(F.col("cos_sim") >= 0.5, F.lit("strong")).otherwise(
                    F.lit("borderline")
                ),
            )
            .groupBy("cclass")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_truth"),
                F.sum(F.coalesce(F.col("found"), F.lit(0)))
                .cast("long")
                .alias("n_found"),
            )
            .collect()
        )
        out = {
            r["cclass"]: {
                "n_truth": r["n_truth"],
                "n_found": r["n_found"],
                "recall_ppm": int(r["n_found"] * 1_000_000 // max(r["n_truth"], 1)),
            }
            for r in rows_out
        }
        out["rows_per_band"] = rows
        out["sec"] = round(time.time() - t0, 3)
        return out

    doc["ann_recall_adapted"] = {
        "1x": ann_recall_at_rows(one, _STATS_ROWS),
        "10x": ann_recall_at_rows(ten, _STATS_ROWS + 3),
        "100x": ann_recall_at_rows(hundred, _STATS_ROWS + 7),
        "threshold": _ANN_COS_MIN,
        "query_sample": "vec_id % 29 == 0, < 29*256 (base-replica queries)",
    }
    print(
        f"# ann_recall_adapted: {json.dumps(doc['ann_recall_adapted'])}",
        file=sys.stderr,
    )

    out = REPO / "SCALE_DOCS.json"
    out.write_text(json.dumps(doc, indent=1) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
