"""Deduplication operators for LLM-pipeline data curation (SURVEY §2.10 X1/X2).

Five dedup families over `documents`, each designed for the 100 TB path:

  - exact        : hash group-by on content digest — one shuffle of (digest,
                   doc_id), never of the text itself.
  - ngram_jaccard: exact all-pairs n-gram Jaccard within blocking buckets —
                   quadratic only inside a bucket, linear across buckets.
  - minhash_lsh  : MinHash signatures + banded LSH bucketing — the sub-
                   quadratic near-dup path; candidate pairs verified with
                   exact Jaccard so LSH is pruning, not semantics.
  - simhash      : 60-bit SimHash signatures + hamming-distance pairing.
  - embedding    : cosine near-dup over `embeddings` (see similarity.py for
                   the general ANN operators).

Hash-function portability: where the oracle must reproduce a hash, we use
word-level features and `md5` (identical hex output in Spark and DuckDB) with
a 31-bit decimal-digit projection both engines can compute with integer SQL.
xxhash64 (Spark-only, faster) backs the rows-only scale variants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onebrc_spark.operators.memo import PersistedLRU, checkpoint, persist_for_build
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import (
    load_table,
    small_for_twin,
    spread,
    spread_width,
    src_bytes_hint,
)

# --- portable token hashing ------------------------------------------------
# One md5 per shingle → 9 decimal digits → N hashes via affine transforms
# (a_i·x + b_i mod p), the classic universal-hash MinHash construction.
# DuckDB has no hex→int cast, so the base hash uses the DECIMAL digits of the
# md5 hex (strip [a-f], take 9, cast) — deterministic and identical in both
# engines, and the expensive md5 runs once per shingle, not once per seed.

_HASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# Fixed affine coefficients; a_i < 2^30 keeps a_i·x < 2^60 within BIGINT.
_HASH_AB = [(1_000_003 * (i + 1) + 7, 9_176 * (i + 1) + 13) for i in range(16)]


def _base_digits(col: Column) -> Column:
    """Portable 9-decimal-digit base hash of a string column (Spark side).

    translate() (character map) produces the same string as the oracle's
    regexp_replace '[a-f]' → '' at ~10× less CPU — this expression runs
    once per shingle (~22M times at sf0.1's bench)."""
    digits = F.translate(F.md5(col), "abcdef", "")
    return F.substring(F.rpad(digits, 9, "0"), 1, 9).cast("long")


def _base_digits_sql(expr: str) -> str:
    """The identical base hash, DuckDB side."""
    return (
        f"CAST(substring(rpad(regexp_replace(md5({expr}),"
        f" '[a-f]', '', 'g'), 9, '0'), 1, 9) AS BIGINT)"
    )


def _affine(base: Column, seed: int) -> Column:
    a, b = _HASH_AB[seed]
    return (base * F.lit(a) + F.lit(b)) % F.lit(_HASH_P)


def _affine_sql(base_expr: str, seed: int) -> str:
    a, b = _HASH_AB[seed]
    return f"(({base_expr}) * {a} + {b}) % {_HASH_P}"


# Single-space split (not \s+): documents.text is single-space separated and
# DuckDB oracles use string_split(text, ' ') — identical tokenization matters.
_WORDS = lambda c: F.split(c, " ")  # noqa: E731


def jac_round4(c: Column) -> Column:
    """4-dp Jaccard quantization that is deterministic across engines:
    floor(x·1e4 + 0.5)/1e4 — binary ops only, the similarity.cos_round6
    idiom (r12 boundary find, registry rulebook). round(x, 4) is
    TIE-REACHABLE here: jaccard = k/union is a small-denominator rational,
    and any union divisible by 32·5 lands values like 1/160 = 0.00625 /
    0.70005 = 14001/20000 exactly on a 5th-digit-5 shortest-repr tie where
    Spark's decimal-view HALF_UP and DuckDB's binary round disagree.
    Positive domain (jaccard ∈ [0, 1]), so the floor form equals
    round-half-up everywhere and is -0.0-free."""
    return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def _word_3grams_sqlx(col: str) -> str:
    """Spark-SQL text of word_3grams over a column/field reference — the
    same expression tree, built by ONE JVM parse instead of ~40 py4j
    calls (r13 optimization round: expression CONSTRUCTION, not execution,
    dominated the build phase of every shingle consumer — see
    OPTIMIZATION_r13.md 'py4j build cost')."""
    w = f"split({col}, ' ')"
    n2 = f"greatest(size({w}) - 2, 0)"
    return (
        f"array_distinct(zip_with(zip_with(slice({w}, 1, {n2}), "
        f"slice({w}, 2, {n2}), (x, y) -> concat_ws(' ', x, y)), "
        f"slice({w}, 3, {n2}), (x, y) -> concat_ws(' ', x, y)))"
    )


def word_3grams(text_col: str) -> Column:
    """Distinct word-3-gram shingles of a text column (shared by the
    Jaccard and MinHash dedup operators; DuckDB twin is the range/
    list_transform expression in their oracles).

    Formulated as zip_with over three shifted slices rather than indexed
    element_at inside a transform: the indexed form re-references the
    split array five times (slice bound + 3 lookups), which ballooned the
    generated code — ~2 s of first-touch codegen per fresh plan at sf0.1
    vs ~0.3 s for this form, identical output (asserted cell-by-cell
    before the switch) and equal steady-state throughput.

    Takes a column or field NAME: one F.expr, one JVM parse (see
    _word_3grams_sqlx)."""
    return F.expr(_word_3grams_sqlx(text_col))


@query(
    "dedup_exact",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, source, md5(text) AS digest FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT digest) AS BIGINT) AS n_dup_rows,
           min(digest) AS min_digest
    FROM hashed GROUP BY source ORDER BY source
    """,
    survey_ref="X1",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup audit via content digest: per source, total vs distinct
    document digests (the dup-rate report a curation run publishes).
    `min_digest` pins the actual md5 values so the hash check verifies the
    digest pipeline even at SFs where the corpus has zero exact duplicates
    (sf0.01 has none; sf0.1 has 8 dup groups — returning only dup groups
    made this green-but-vacuous at driver scale). At 100 TB the shuffle
    carries only (16-byte digest, source) pairs — the text never moves."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "source", F.md5("text").alias("digest"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("digest").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("digest")).alias("n_dup_rows"),
            F.min("digest").alias("min_digest"),
        )
        .orderBy("source")
    )


@query(
    "dedup_exact_distinct",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_distinct_texts
    FROM documents
    """,
    survey_ref="X1",
)
def dedup_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup accounting: total vs distinct-by-content."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, n_chars // 100 AS len_bucket,
             string_split(text, ' ') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id, lang, len_bucket,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gset
      FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor(CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE)
                 / (len(a.gset) + len(b.gset)
                    - len(list_intersect(a.gset, b.gset)))
                 * 10000 + 0.5) / 10000 AS jaccard
    FROM grams a JOIN grams b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE)
          / (len(a.gset) + len(b.gset) - len(list_intersect(a.gset, b.gset)))
          >= 0.8
    ORDER BY doc_a, doc_b
    """,
    survey_ref="X2",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.8), blocked by
    (lang, length-bucket) so the quadratic pair join is bounded per block —
    the blocking-key pattern that keeps all-pairs viable at scale. Shingles
    are distinct word-3-grams. Blocks whose pair count would exceed
    _BLOCK_PAIR_CAP are diverted to a banded-MinHash candidate path (see
    ngram_jaccard_pairs) — no block can detonate the all-pairs join. At
    every test SF all blocks fit the budget (max 451 docs ≈ 101k pairs at
    sf0.1), so the oracle — plain blocked all-pairs — is exact."""
    d = spread(load_table(spark, sf_dir, "documents"), spark, dense=True)
    docs = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        F.array_sort(word_3grams("text")).alias("gset"),
    )
    return ngram_jaccard_pairs(docs)


# Skew guard for the exact all-pairs path: a single hot block (one language ×
# one length bucket dominating the corpus) otherwise produces an unbounded
# O(n²) join task. 200k pairs/block ≈ the work of a ~630-doc block.
_BLOCK_PAIR_CAP = 200_000
# Fallback banding over the 12 MinHash hashes: 6 bands × 2 rows → s-curve
# threshold (1/6)^(1/2) ≈ 0.41; at the verify threshold 0.8 the miss
# probability is (1 - 0.8²)⁶ ≈ 0.002 — the recall cost of capping.
_FALLBACK_BANDS = 6
_FALLBACK_ROWS = 2


def split_by_block_budget(
    g: DataFrame, keys: list[str], cap_pairs: int
) -> tuple[DataFrame, DataFrame]:
    """(fits, oversized): rows of blocks whose C(n, 2) fits the pair budget
    vs rows of blocks that would blow it. The census is a dim-sized
    aggregate (one row per block key), broadcast back — no extra shuffle of
    the documents."""
    counts = g.groupBy(*keys).agg(F.count(F.lit(1)).alias("_block_n"))
    joined = g.join(F.broadcast(counts), keys)
    fits = (F.col("_block_n") * (F.col("_block_n") - 1) / 2) <= cap_pairs
    return joined.filter(fits).drop("_block_n"), joined.filter(~fits).drop("_block_n")


def _jaccard_pairs_exact(g: DataFrame, threshold: float) -> DataFrame:
    """All-pairs exact Jaccard within (lang, len_bucket) blocks."""
    a = g.alias("a")
    b = g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.gset"), F.col("b.gset"))).cast("double")
    union = (
        F.size(F.col("a.gset")) + F.size(F.col("b.gset"))
        - F.size(F.array_intersect(F.col("a.gset"), F.col("b.gset")))
    )
    # Two empty shingle sets in one block → 0/0: ANSI Spark THROWS while
    # DuckDB's x/0 is NULL (pair dropped by the threshold filter). NULL the
    # denominator so both engines drop the undefined pair (edge-fixture
    # class: documents shorter than the 3-gram window have empty gsets).
    jac = inter / F.when(union == 0, F.lit(None)).otherwise(union)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= threshold)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac_round4(jac).alias("jaccard"),
        )
    )


def _jaccard_pairs_lsh_fallback(g: DataFrame, threshold: float) -> DataFrame:
    """Sub-quadratic path for oversized blocks: MinHash signatures banded
    6×2 generate candidates within the block, then the SAME exact-Jaccard
    predicate verifies. Identical output semantics up to the banding's
    ~0.2% miss rate at threshold 0.8 (see _FALLBACK_* constants)."""
    sigs = g.select(
        "doc_id", "lang", "len_bucket", "gset",
        minhash_signature("gset").alias("sig"),
    )
    bands = sigs.select(
        "doc_id", "lang", "len_bucket",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.slice(
                            F.col("sig"), band * _FALLBACK_ROWS + 1, _FALLBACK_ROWS
                        ).alias("band_sig"),
                    )
                    for band in range(_FALLBACK_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "lang", "len_bucket", "b.band", "b.band_sig")
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("gset").alias("gset_a"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("gset").alias("gset_b"))
    inter = F.size(F.array_intersect("gset_a", "gset_b")).cast("double")
    union = (
        F.size("gset_a") + F.size("gset_b") - F.size(F.array_intersect("gset_a", "gset_b"))
    )
    # same ANSI-0/0 guard as _jaccard_pairs_exact: empty shingle sets share
    # a MinHash signature, so they always reach the verify predicate
    jac = inter / F.when(union == 0, F.lit(None)).otherwise(union)
    return (
        candidates.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", jac_round4(jac).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8, cap_pairs: int = _BLOCK_PAIR_CAP
) -> DataFrame:
    """Blocked near-dup pairs with a per-block pair budget.

    Input: (doc_id, lang, len_bucket, gset). Blocks within budget run exact
    all-pairs; oversized blocks run banded-MinHash candidates + the same
    exact verification — so one skewed block degrades gracefully to the
    sub-quadratic path instead of detonating a multi-TB shuffle task.
    tests/test_properties.py pins both routes on a synthetic hot block.
    """
    fits, oversized = split_by_block_budget(
        docs, ["lang", "len_bucket"], cap_pairs
    )
    exact = _jaccard_pairs_exact(fits, threshold)
    fallback = _jaccard_pairs_lsh_fallback(oversized, threshold)
    return exact.unionByName(fallback).orderBy("doc_a", "doc_b")


# MinHash/LSH parameters: 12 hashes in 4 bands of 3 → s-curve threshold
# (1/4)^(1/3) ≈ 0.63; candidates verified at exact Jaccard ≥ 0.7.
_MINHASH_N = 12
_LSH_BANDS = 4
_LSH_ROWS = 3
_MINHASH_THRESHOLD = 0.7


def _minhash_signature_sqlx(ws: str) -> str:
    """Spark-SQL text of minhash_signature over a shingle-array reference —
    one JVM parse instead of ~370 py4j calls (see _word_3grams_sqlx)."""
    base = (
        "CAST(substring(rpad(translate(md5(w), 'abcdef', ''), 9, '0'), 1, 9) "
        "AS BIGINT)"
    )
    hashes = ", ".join(
        f"(h * {a}L + {b}L) % {_HASH_P}L" for a, b in _HASH_AB[:_MINHASH_N]
    )
    return (
        f"aggregate(transform({ws}, w -> {base}), "
        f"array_repeat(CAST({_HASH_P} AS BIGINT), {_MINHASH_N}), "
        f"(acc, h) -> zip_with(acc, array({hashes}), (a, b) -> least(a, b)))"
    )


def minhash_signature(shingles_col: str) -> Column:
    """12-element MinHash signature over a distinct-shingle array: one md5
    base hash per shingle, then 12 affine transforms.

    Computed as ONE fold with a 12-element running-minimum accumulator.
    The obvious formulation — 12 separate array_min(transform(bases, ...))
    expressions over a shared `bases` — is 12× slower: Catalyst's project
    collapse inlines `bases` into every consumer, so the md5 evaluates once
    per seed instead of once per shingle (measured 199 s → this form at
    sf0.1). Empty shingle lists yield the sentinel (= _HASH_P) signature.

    Takes a column or field NAME: one F.expr (see _word_3grams_sqlx).
    """
    return F.expr(_minhash_signature_sqlx(shingles_col))


def minhash_candidates_ctes() -> str:
    """The DuckDB CTE chain toks → words → based → sigs → bands →
    candidates: banded-LSH candidate pairs over ALL documents (plain,
    uncollapsed — identical docs collide in every band, which is exactly
    what the Spark side's collapse/expand reproduces). Shared by the pair
    oracle and the recall-audit oracle."""
    return f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS raw_ws FROM documents
    ), words AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(raw_ws) - 1, 1)),
               i -> raw_ws[i] || ' ' || raw_ws[i+1] || ' ' || raw_ws[i+2])) AS ws
      FROM toks
    ), based AS (
      SELECT doc_id, ws,
             list_transform(ws, w -> {_base_digits_sql('w')}) AS bases
      FROM words
    ), sigs AS (
      SELECT doc_id,
             [{", ".join("list_min(list_transform(bases, h -> " + _affine_sql("h", s) + "))" for s in range(_MINHASH_N))}]
               AS sig
      FROM based
    ), bands AS (
      SELECT doc_id, band, sig[band*{_LSH_ROWS}+1:band*{_LSH_ROWS}+{_LSH_ROWS}] AS band_sig
      FROM sigs, (SELECT unnest(range({_LSH_BANDS})) AS band)
    ), candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    )"""


def minhash_pairs_sql() -> str:
    """DuckDB SELECT yielding (doc_a, doc_b, jaccard) MinHash-LSH near-dup
    pairs — the dedup_minhash_lsh oracle body, exposed so downstream oracles
    (cluster components, survivors) can embed the same edge set.

    r13: the WHERE filters on the RAW ratio (matching the Spark side's
    unrounded `jac >= τ` filter exactly — the old rounded-value filter
    could admit jac ∈ [τ−5e-5, τ) pairs Spark rejects, reachable once
    word-set unions exceed ~2e4 at corpus scale) and the output column is
    quantized with the tie-safe floor form (see jac_round4)."""
    return f"""
    WITH {minhash_candidates_ctes()}, verified AS (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
                   / (len(wa.ws) + len(wb.ws) - len(list_intersect(wa.ws, wb.ws)))
               AS jac_raw
      FROM candidates
      JOIN words wa ON wa.doc_id = doc_a
      JOIN words wb ON wb.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           floor(jac_raw * 10000 + 0.5) / 10000 AS jaccard
    FROM verified
    WHERE jac_raw >= {_MINHASH_THRESHOLD}
    """


@query(
    "dedup_minhash_lsh",
    oracle=minhash_pairs_sql() + " ORDER BY doc_a, doc_b",
    survey_ref="X2",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection, the sub-quadratic scale path:
    exact-digest pre-collapse (one representative per md5(text) group) →
    3-gram shingles of the representatives → signature (12 portable hashes)
    → 4 bands of 3 → equi-join on band key under a hot-band occupancy cap →
    exact shingle-Jaccard verification ≥ 0.7 → re-expansion of the digest
    groups back into document pairs. The oracle is the plain banded-LSH
    pipeline in DuckDB: the pre-collapse/expansion round-trip provably
    emits the identical pair set (see _minhash_pairs_plan), so this is
    hash-verified end to end — LSH prunes, Jaccard decides.

    The verified pair set is memoized per (application, sf_dir) as a
    persisted-and-materialized DataFrame: four registered queries consume
    these pairs (minhash itself, both cluster queries, the cluster-safe
    split), and round 3 showed each call pinning a fresh `ws` persist — a
    slow executor-memory leak across a 161-query drive. Now the collapsed
    shingle rows live only for the duration of the build (the memo
    releases them once the pair set is counted) and downstream consumers
    share one tiny pair set. persist+count rather than eager
    localCheckpoint of the build: the .rdd materialization path cost
    ~0.8 s extra per build at sf0.1 (64 tasks × 3 stages outside the
    adaptive plan), while a persisted plan stays in the AQE/codegen path;
    small inputs then take their short-plan twin from that cache."""
    return minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# Bounded (VERDICT r6 #7): a multi-sf_dir session holds at most two
# memoized pair sets — the warmup and measured directories bench.py
# legitimately alternates between; a third key evicts and releases the LRU.
_MINHASH_PAIRS_CACHE = PersistedLRU(maxsize=2)


def clear_pair_cache() -> None:
    """Release every memoized pair set (bench hook: per-query standalone
    cost accounting requires each timed run to rebuild from scratch)."""
    _MINHASH_PAIRS_CACHE.clear()


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized verified near-dup pair set, UNORDERED — for consumers
    (cluster resolution, survivors, leakage-safe split) that don't need the
    presentation sort dedup_minhash_lsh's query contract adds.

    Small inputs get the memo's short-plan twin (r14 — the memo's 115 KB
    build-tree plan was re-analyzed by every consumer operation; see
    catalog.small_for_twin for the gate's scale rationale). Consumers must
    not hold a handed-out frame across clear_pair_cache()/eviction: a
    released twin fails loudly on its next read."""
    src = load_table(spark, sf_dir, "documents")
    small = small_for_twin(src_bytes_hint(src))
    width = spread_width(src, spark)
    return _MINHASH_PAIRS_CACHE.get_or_build(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: _minhash_pairs_plan(spark, sf_dir, small, width),
        twin=small,
    )


# Hot-band occupancy cap (documents per band key, counted AFTER the exact-
# digest pre-collapse and the empty-shingle routing — so only DISTINCT,
# shingle-bearing texts can occupy a band). A band key holding n docs feeds
# C(n, 2) rows into the candidate join; capping occupancy bounds the worst
# band's contribution to C(cap, 2) ≈ 500k pairs. Dropping a hot band loses
# only pairs whose SOLE collision is that band: with 4 bands of 3, a pair at
# Jaccard j still surfaces with probability 1-(1-j³)³ instead of 1-(1-j³)⁴
# (at j = 0.9: 98.0% vs 99.5%) — the same graceful-degrade contract as
# _BLOCK_PAIR_CAP (exact path) and _CONTAIN_DF_CAP (containment). At every
# test SF the hottest band holds far fewer docs than the cap (sf0.1: single
# digits after collapse), so the oracle — plain banded LSH — stays exact;
# tests/test_properties.py exercises the divert with a tiny cap override.
_BAND_OCCUPANCY_CAP = 1024


def _minhash_slim(d: DataFrame) -> DataFrame:
    """(doc_id, text, digest) with NULL texts pre-routed: a NULL text has
    no shingles, so no pair it could appear in survives the Jaccard
    threshold (0/0 → NULL) — dropping the rows up front is pair-set
    neutral and keeps NULL digests out of the census."""
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id", "text", F.md5("text").alias("digest")
    )


def _dup_census(slim: DataFrame) -> DataFrame:
    """(digest, rep_id, grp_n) for digests with ≥2 members — the ONLY
    full-corpus shuffle of the collapse, and it carries 40-byte census
    rows (digest + two longs, partial-aggregated map-side), never text.
    Real corpora keep this output tiny relative to the corpus (duplicated
    DISTINCT texts), which is what lets the collapse join it back
    broadcast-style below."""
    return (
        slim.groupBy("digest")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("grp_n"),
        )
        .filter(F.col("grp_n") > 1)
    )


def _collapsed_rows(slim: DataFrame, dupc: DataFrame) -> DataFrame:
    """Exact-digest pre-collapse: one row per distinct text — (doc_id, ws,
    grp_n, ids) where doc_id is the group's min (the representative), ws
    its shingles, grp_n the group size and ids EVERY member's doc_id.
    Web-scale exact duplication is clique-shaped (millions of byte-
    identical copies of one page); byte-identical docs have identical
    shingles, hence identical signatures, hence collide in EVERY band —
    C(k, 2) candidate rows × 4 bands before the verify step. Collapsing to
    representatives makes the banded bucketing see each distinct text
    once; _pairs_sql_from_collapsed reconstructs the cliques' pairs
    arithmetically from `ids`.

    Shuffle shape (r9 — the BENCH_r8-flagged regression fix): the r8 form
    was ONE groupBy(digest) carrying min(text) + collect_list(ids) for
    EVERY distinct digest — the whole corpus's text shuffled through the
    agg even on duplicate-free data. Now a 40-byte-row census
    (_dup_census) finds the duplicated digests first; unique docs — the
    overwhelming mass — pass through as a broadcast ANTI join against that
    (normally tiny) digest set, and only dup-group members, kept by a SEMI
    join against the same set, pay the member-collection agg, which
    recomputes rep_id and grp_n from the members it collects. Both joins
    broadcast the identical digest set, so ReuseExchange builds that
    broadcast — and computes the census — once; a join on the whole
    census row would broadcast a second projection and compute the census
    again. Text never shuffles: when the census outgrows
    the broadcast threshold (pathological dup mass), AQE falls back to a
    shuffled join — the r8 cost shape — rather than failing. On a
    duplicate-free corpus the census broadcast is EMPTY and AQE's
    empty-relation propagation rewrites this to a pure narrow map over the
    scan (anti join → pass-through, member branch → empty) — no probe job
    needed to get the degenerate plan.

    Empty-shingle reps are NOT filtered here: a filter on size(ws) gets
    predicate-pushed through the union and the round-robin repartition all
    the way to the scan — re-evaluating the whole shingle expression
    SERIALLY on the pre-spread file partition (measured: the single worst
    cost in the r9 plan). Consumers apply their own guard where it is
    semantically needed: pair emission drops shingle-less groups (the
    `dup` CTE of _pairs_sql_from_collapsed), banding self-bounds them via
    the occupancy cap and the 0/0→NULL verify guard."""
    uniq_cols = [
        F.col("doc_id"),
        word_3grams("text").alias("ws"),
        F.lit(1).cast("long").alias("grp_n"),
        F.array("doc_id").alias("ids"),
    ]
    digests = dupc.select("digest")
    uniq = slim.join(digests, "digest", "left_anti").select(*uniq_cols)
    # member collection happens ONLY for dup groups (post broadcast-join
    # filter), so the collect_list buffer and the shuffled `ids` arrays are
    # bounded by the corpus's duplicate mass, not its size. The O(k)-per-
    # clique array is the documented contract: any clique too big for an
    # 8-byte-per-member array is far too big to enumerate C(k, 2) pairs
    # for, and belongs to dedup_exact's group-report instead.
    dup = (
        slim.join(digests, "digest", "left_semi")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("grp_n"),
            F.collect_list("doc_id").alias("ids"),
            # all group texts are byte-identical, so min(text) IS the
            # representative text — and only dup-group text reaches this agg
            F.min("text").alias("text"),
        )
        .select(
            F.col("rep_id").alias("doc_id"),
            word_3grams("text").alias("ws"),
            "grp_n",
            "ids",
        )
    )
    return uniq.unionByName(dup)


def _band_keys_sqlx(sig: str) -> str:
    """Spark-SQL text of the LSH band keys of a MinHash signature
    reference: array(xxhash64(band, sig slice), ...), one 64-bit key per
    band instead of an array-typed (band, band_sig) key. Equal band slices
    always hash equal, so no true candidate is ever lost; a hash collision
    can only ADD a candidate, and every candidate is decided by the exact
    Jaccard later (a collision changing the RESULT needs a colliding pair
    that also passes jaccard ≥ τ: ~2^-64, far below the md5
    content-addressing risk already accepted repo-wide). At scale this is
    the difference between shuffling 8-byte keys and shuffling 3-element
    long arrays (round 5: ~25% off the array-keyed join). The ONE Spark
    band-key generator: the pair build, the recall audit and incremental
    admission all band through it."""
    return "array({})".format(
        ", ".join(
            "xxhash64({b}, {els})".format(
                b=band,
                els=", ".join(
                    f"element_at({sig}, {band * _LSH_ROWS + j + 1})"
                    for j in range(_LSH_ROWS)
                ),
            )
            for band in range(_LSH_BANDS)
        )
    )


def _band_candidates_ctes(src: str, band_cap: int) -> str:
    """The CTE chain sigs → bands → gated → buckets → cand: banded LSH
    candidate pairs (doc_a < doc_b) over a relation `src` of (doc_id, ws)
    rows, as Spark-SQL text. The one candidate definition: the pair build
    (_pairs_sql_from_collapsed) and the recall audit both run it.

    Bucket-aggregate instead of self-join (r8): ONE shuffle on band_key
    collects each bucket's ids and the pairs STREAM out of two chained
    generators — posexplode(ids), then explode of the positional tail
    slice — so peak memory per bucket is O(k), never the O(k²) an in-row
    product would materialize before its explode. collect_list order is
    nondeterministic, so the least/greatest normalization keeps the
    emitted set order-independent.

    Occupancy gating BEFORE collection (r9): a window count over the same
    band_key clustering (spill-backed WindowExec, never an agg buffer)
    drops over-cap keys AND singleton keys before any array is built, so
    the collect_list buffer is bounded by the cap it enforces (8 KB of
    longs at the default 1024) — a pathological hot band of distinct-
    digest near-dups cannot OOM an executor on one key. The window's sort
    output already satisfies the GROUP BY's clustering, so the gate costs
    a per-partition sort, not a second shuffle. Keys above `band_cap` are
    dropped — see _BAND_OCCUPANCY_CAP for the recall contract."""
    return f"""
    sigs AS (
      SELECT doc_id, {_minhash_signature_sqlx("ws")} AS sig
      FROM (SELECT doc_id, ws FROM {src})
    ),
    bands AS (
      SELECT doc_id, band_key FROM sigs
      LATERAL VIEW explode({_band_keys_sqlx("sig")}) bt AS band_key
    ),
    gated AS (
      SELECT doc_id, band_key FROM (
        SELECT doc_id, band_key,
               count(1) OVER (PARTITION BY band_key) AS occ_n
        FROM bands
      ) WHERE occ_n >= 2 AND occ_n <= {band_cap}
    ),
    buckets AS (
      SELECT band_key, collect_list(doc_id) AS ids FROM gated GROUP BY band_key
    ),
    cand AS (
      SELECT DISTINCT least(_x, _y) AS doc_a, greatest(_x, _y) AS doc_b
      FROM buckets
      LATERAL VIEW posexplode(ids) p AS _i, _x
      LATERAL VIEW explode(slice(ids, _i + 2, size(ids))) q AS _y
    )"""


def _pairs_sql_from_collapsed(view: str, band_cap: int) -> str:
    """The band→gate→bucket→candidate→verify→expand plan as ONE Spark-SQL
    statement over the materialized collapsed view (r14, guide §1.2 step 2
    — the r13 one-parse technique applied to the whole post-checkpoint
    build). A Column-API composition created ~15 eagerly-analyzed
    Datasets, each re-walking the signature/shingle expression forest —
    measured ~0.5 s of driver-side construction per cold build at sf0.1
    (phase split in OPTIMIZATION_r14.md); this is one parse + one
    analysis. The candidates come from _band_candidates_ctes over the
    same view; the pair set is pinned end-to-end by the DuckDB oracle.

    Verify: exact shingle Jaccard of each candidate, both sides' shingles
    joined back from the view. A 0/0 Jaccard THROWS under ANSI while
    DuckDB's x/0 is NULL (dropped by the threshold), so the denominator is
    NULLed and both engines drop the undefined pair.

    Expand (`dup`, `expanded` and the two emitting branches): the exact
    inverse of the collapse, emitting precisely the pair set plain
    (uncollapsed) banded LSH would:

      - cross-group: a verified rep pair (ra, rb, j) expands to every
        (a ∈ group(ra), b ∈ group(rb)) with the SAME jaccard j — identical
        texts have identical shingle sets, so jaccard(a, b) = jaccard(ra,
        rb), and identical signatures mean (a, b) band-collides iff
        (ra, rb) does. A singleton rep carries no `dup` row, so the
        coalesce falls back to array(rep); groups are disjoint, so each
        pair appears exactly once.
      - within-group: every pair inside a dup group is byte-identical →
        jaccard exactly 1.0 ≥ τ, and always band-collides — UNLESS the
        text has no shingles, where plain LSH computes 0/0 → NULL →
        dropped. The size(ws) > 0 guard in `dup` excludes exactly those
        groups (the collapse keeps them as rows — see _collapsed_rows —
        so the guard lives here, the only place where they would change
        the pair set). The pairs STREAM from `ids` through posexplode +
        slice (the `cand` CTE's shape): no join, no shuffle, and peak
        memory O(k) per row. The output IS quadratic in the clique — that
        is the pair-set contract — but nothing upstream of the final emit
        is, in shuffle bytes or in any single row buffer.

    The verified rep pairs are tiny and the dup-group member table is
    bounded by the corpus's dup mass — AQE broadcasts whichever side is
    small."""
    ai = "size(array_intersect(a.ws, b.ws))"
    un = f"(size(a.ws) + size(b.ws) - {ai})"
    return f"""
    WITH {_band_candidates_ctes(view, band_cap)},
    verified AS (
      SELECT doc_a, doc_b, floor(j * 10000.0D + 0.5D) / 10000.0D AS jaccard
      FROM (
        SELECT c.doc_a, c.doc_b,
               CAST({ai} AS DOUBLE) /
               (CASE WHEN {un} = 0 THEN NULL ELSE {un} END) AS j
        FROM cand c
        JOIN {view} a ON a.doc_id = c.doc_a
        JOIN {view} b ON b.doc_id = c.doc_b
      ) WHERE j >= {_MINHASH_THRESHOLD}D
    ),
    dup AS (
      SELECT doc_id, ids FROM {view} WHERE grp_n > 1 AND size(ws) > 0
    ),
    expanded AS (
      SELECT coalesce(ma.ids, array(v.doc_a)) AS ids_a,
             coalesce(mb.ids, array(v.doc_b)) AS ids_b,
             v.jaccard
      FROM verified v
      LEFT JOIN dup ma ON ma.doc_id = v.doc_a
      LEFT JOIN dup mb ON mb.doc_id = v.doc_b
    )
    SELECT least(_a, _b) AS doc_a, greatest(_a, _b) AS doc_b, jaccard
    FROM expanded
    LATERAL VIEW explode(ids_a) ea AS _a
    LATERAL VIEW explode(ids_b) eb AS _b
    UNION ALL
    SELECT least(_x, _y) AS doc_a, greatest(_x, _y) AS doc_b,
           CAST(1.0 AS DOUBLE) AS jaccard
    FROM dup
    LATERAL VIEW posexplode(ids) p AS _i, _x
    LATERAL VIEW explode(slice(ids, _i + 2, size(ids))) q AS _y
    """


def _minhash_pairs_plan(
    spark: SparkSession, sf_dir: str, small: bool, width: int,
    band_cap: int = _BAND_OCCUPANCY_CAP,
) -> DataFrame:
    """Unordered verified near-dup pairs (doc_a, doc_b, jaccard) plan:
    collapse → route out empty shingle sets → band (capped) → verify →
    expand, coalesced to `width` partitions. Built inside a memo build
    (minhash_pairs passes the source's short-plan gate `small` and spread
    width): the collapsed rows are a checkpoint when `small`, a
    persist_for_build frame otherwise, and the memo releases either.

    Equivalence to the uncollapsed oracle: empty-shingle docs only ever
    produce NULL-jaccard pairs (always dropped), so routing them out
    changes nothing; collapse/expand is a bijection on the remaining pair
    set (see _pairs_sql_from_collapsed). Hence the DuckDB oracle — plain
    banded LSH over all documents — hashes identically, while the Spark plan is
    clique-proof: k byte-identical docs cost O(k) instead of O(k²) rows in
    the banded candidate join (pinned in tests/test_properties.py).

    Duplicate-free short-circuit (r9 — VERDICT r8 #1, by RUNTIME
    re-planning rather than a probe job): the duplicate census is a
    broadcast build side inside the one materialization job, so when it
    finds ZERO duplicated digests AQE's empty-relation propagation erases
    the whole apparatus at runtime — the anti join passes the scan
    through, the member branch vanishes, and the expansion's left joins
    and within-group emit reduce to the identity over rep pairs. A
    driver-side max(grp_n) probe would decide the same thing one job
    earlier but was measured to cost MORE than it saves at every SF (the
    probe is a full census job; the empty branches it prunes are
    already-broadcast no-ops)."""
    # Generic width everywhere in the build — the dense budget was ABBA-
    # measured HERE and rejected (r14): interleaved same-JVM pairs put the
    # cold build at 1.53/1.81 s (min/med) at 128 KiB/task vs 1.70/1.88 at
    # 64 KiB and 1.83/1.91 at 32 KiB — the build's many short stages pay
    # more in task launches than the signature stage's extra parallelism
    # returns (the contended profile that suggested otherwise had inflated
    # the compute stage ~8x). Contrast dedup_ngram_jaccard, where the
    # exact pairwise verify IS compute-bound and dense measured 0.41x.
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    slim = _minhash_slim(d)
    # ONE materialization point: the collapsed (doc_id, ws, grp_n, ids)
    # table feeds the signature path, both sides of the verification join
    # AND the expansion — without it the shingling+collapse recomputes 5×.
    # The coalesce folds the union's branch partitions (spread-width each,
    # the dup branch near-empty) back to spread width — every downstream
    # stage over the cache would otherwise pay 2× the task overhead.
    #
    # Small inputs take an eager checkpoint SHORT-PLAN twin instead of
    # a persist (r14, VERDICT r13 #1, guide §7.3): the collapsed tree
    # (scan + census joins + the word_3grams forest) is re-analyzed by
    # every one of its FIVE consumers, and with a persist the final pairs
    # plan embeds that whole tree five times — the memoized pair set's
    # 115 KB logical plan that every warm consumer (cluster queries,
    # leakage split: a 2,045-line plan) re-analyzed per operation. The
    # twin's one-line LogicalRDD cuts both the build's driver planning
    # gaps and every consumer plan. Above the size gate the persist path
    # is unchanged — at scale lineage-free blocks and a second copy are
    # the wrong trade (see catalog.small_for_twin).
    base = _collapsed_rows(slim, _dup_census(slim)).coalesce(width)
    collapsed = checkpoint(base, eager=True) if small else base
    # ONE spark.sql for everything past the checkpoint (r14, see
    # _pairs_sql_from_collapsed).
    out = spark.sql(
        _pairs_sql_from_collapsed("{collapsed}", band_cap), collapsed=collapsed
    )
    # Persist only AFTER the call: spark.sql drops its argument's temp view
    # on return, and dropping a view uncaches the cached plan equal to it.
    # `out` still reads the cache — a plan is matched against cached plans
    # when it first executes, not when it is built.
    if not small:
        persist_for_build(base)
    # coalesce before the memo persists: the expansion union leaves 2×
    # spread width of mostly-empty partitions, and every WARM consumer of
    # the memo would pay that task count on each read (r9 fullsweep: the
    # warm presentation read was +60% from partition count alone). Target
    # = the ADAPTIVE spread width of the source (r13): a host-constant 64
    # here made every pair consumer (bidir union = 2x memo width) pay 128
    # task launches per stage to read ~2k rows.
    return out.coalesce(width)


# Recall-audit truth floor: within-block pairs with ANY meaningful overlap
# (j ≥ 0.05). The corpus — like real web text — is bimodal (boilerplate-ish
# low-j mass vs near-identical high-j mass), so the three classes measure
# both ends of the banding s-curve: 'sub' [0.05, 0.7) SHOULD be pruned
# (candidate recall ≈ 0 — that is the selectivity claim), 'borderline'
# [0.7, 0.9) is where 4×3 banding loses recall, 'strong' [0.9, 1] should be
# ≈ 1e6 ppm.
_AUDIT_FLOOR = 0.05


def _audit_truth_sql() -> str:
    """Blocked exact-Jaccard truth pairs with raw (unrounded) j — the
    recall audit's reference set, DuckDB side."""
    return f"""gtoks AS (
      SELECT doc_id, lang, n_chars // 100 AS len_bucket,
             string_split(text, ' ') AS gws
      FROM documents
    ), grams AS (
      SELECT doc_id, lang, len_bucket,
             list_distinct(list_transform(
               range(1, greatest(len(gws) - 1, 1)),
               i -> gws[i] || ' ' || gws[i+1] || ' ' || gws[i+2])) AS gset
      FROM gtoks
    ), truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE)
               / (len(a.gset) + len(b.gset)
                  - len(list_intersect(a.gset, b.gset))) AS j
      FROM grams a JOIN grams b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
           AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE)
            / (len(a.gset) + len(b.gset)
               - len(list_intersect(a.gset, b.gset))) >= {_AUDIT_FLOOR}
    )"""


@query(
    "dedup_minhash_recall_audit",
    oracle=f"""
    WITH {{CANDIDATES}}, {{TRUTH}}
    SELECT CASE WHEN t.j >= 0.9 THEN 'strong'
                WHEN t.j >= {_MINHASH_THRESHOLD} THEN 'borderline'
                ELSE 'sub' END AS jclass,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS recall_ppm
    FROM truth t
    LEFT JOIN candidates c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY jclass ORDER BY jclass
    """.replace("{CANDIDATES}", minhash_candidates_ctes())
       .replace("{TRUTH}", _audit_truth_sql()),
    survey_ref="X2 + X3d (banded-LSH recall audit, text twin)",
)
def dedup_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured banded-LSH recall vs exact-Jaccard truth — the text twin of
    sim_ann_recall_audit (X3d), closing VERDICT r7 #5. Truth = within-block
    (lang × length-bucket) pairs at exact word-3-gram Jaccard ≥ 0.05; a
    truth pair counts as FOUND when the production candidate machinery —
    exact-digest pre-collapse, empty-shingle routing, capped 4×3 banding —
    surfaces it: either both docs share a digest group (expansion recovers
    them arithmetically) or their representatives band-collide. Output is
    one exact-integer row per Jaccard class (see _AUDIT_FLOOR): n_truth,
    n_found, recall_ppm — 'strong' should sit near 1e6, 'sub' near 0 (the
    selectivity end of the s-curve), 'borderline' is the measured banding
    loss the 10× scale run (SCALE_DOCS.json) tracks across corpora.

    Cross-engine note: recall on borderline pairs is shingle-hash-space
    dependent, so the oracle replays the IDENTICAL md5-affine signatures —
    per-corpus ppm values are hash-verified, but never compare them across
    differently tokenized corpora (tests/test_scale_docs.py's caveat).

    Scale: truth is the blocked all-pairs join (bounded per block — the
    dedup_ngram_jaccard budget applies); at 100 TB an audit like this runs
    on a block-sample, not the full corpus — the query shape is unchanged,
    only the input is sampled (minhash_recall_audit_frame is that protocol,
    executable: scripts/docs_scale_run.py runs it on a deterministic
    lang×len_bucket block sample of the 100x replica corpus)."""
    return minhash_recall_audit_frame(
        spread(load_table(spark, sf_dir, "documents"), spark, dense=True)
    )


def minhash_recall_audit_frame(
    d: DataFrame, truth_side: DataFrame | None = None
) -> DataFrame:
    """dedup_minhash_recall_audit's body over an ARBITRARY documents frame —
    the audit-on-a-sample protocol the query docstring promises for 100 TB.

    `truth_side` (default: d) restricts the quadratic TRUTH join to a
    sampled sub-frame while the candidate machinery (digest collapse,
    banding, occupancy cap) still runs on the FULL frame — i.e. recall of
    the production index, measured on an affordable truth sample. That is
    the deployable shape: truth cost is quadratic-per-block over the
    sample only, candidate cost is the production pipeline you were
    already paying. Record the sample fraction next to any sampled ppm
    (docs_scale_run.py does)."""
    dt = d if truth_side is None else truth_side
    gset = word_3grams("text")
    docs = dt.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        gset.alias("gset"),
    )
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.gset"), F.col("b.gset"))).cast("double")
    union = (
        F.size(F.col("a.gset")) + F.size(F.col("b.gset"))
        - F.size(F.array_intersect(F.col("a.gset"), F.col("b.gset")))
    )
    jac = inter / F.when(union == 0, F.lit(None)).otherwise(union)
    truth = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= _AUDIT_FLOOR)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("j"),
        )
    )
    slim = _minhash_slim(d)
    dupc = _dup_census(slim)
    ctes = _band_candidates_ctes("{collapsed}", _BAND_OCCUPANCY_CAP)
    cands = d.sparkSession.sql(
        f"WITH {ctes} SELECT doc_a AS ca, doc_b AS cb, 1 AS hit FROM cand",
        collapsed=_collapsed_rows(slim, dupc),
    )
    # rep(doc) = its dup-group representative, or itself (singletons carry
    # no mapping row). Built straight from the census join, NOT from the
    # full collapse: the mapping branches (ma/mb below) need only
    # (rep_id, doc_id), and re-evaluating the whole collapse — shingles,
    # anti join, member agg — once per branch was this query's r9 fullsweep
    # regression. Empty-shingle dup groups are harmlessly included: a truth
    # pair needs shingles on both sides, so their mapping rows never match.
    dup_members = slim.join(dupc, "digest").select("rep_id", "doc_id")
    ma = dup_members.select(
        F.col("doc_id").alias("doc_a"), F.col("rep_id").alias("ra")
    )
    mb = dup_members.select(
        F.col("doc_id").alias("doc_b"), F.col("rep_id").alias("rb")
    )
    mapped = (
        truth.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            "j",
            F.coalesce("ra", "doc_a").alias("rep_a"),
            F.coalesce("rb", "doc_b").alias("rep_b"),
        )
    )
    joined = mapped.join(
        cands,
        (F.least("rep_a", "rep_b") == F.col("ca"))
        & (F.greatest("rep_a", "rep_b") == F.col("cb")),
        "left",
    )
    found = (F.col("rep_a") == F.col("rep_b")) | F.col("hit").isNotNull()
    jclass = (
        F.when(F.col("j") >= 0.9, F.lit("strong"))
        .when(F.col("j") >= _MINHASH_THRESHOLD, F.lit("borderline"))
        .otherwise(F.lit("sub"))
    )
    return (
        joined.select(jclass.alias("jclass"), found.cast("int").alias("found"))
        .groupBy("jclass")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum("found").cast("long").alias("n_found"),
        )
        .select(
            "jclass",
            "n_truth",
            "n_found",
            F.expr("CAST(n_found * 1000000 div n_truth AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
        .orderBy("jclass")
    )


# SimHash width: 60 bits pairs with md5-derived token hashes (the first 15
# hex chars), which both engines compute identically, so the DuckDB oracle
# replays the signature bit-for-bit. 60 ≤ 63 also keeps every bit mask a
# positive BIGINT literal.
_SIMHASH_BITS = 60


def _simhash_sqlx(hs: str) -> str:
    """Spark-SQL text of simhash64 over a hash-array reference — the
    vote/pack fold as one JVM parse instead of ~200 py4j calls building
    the per-bit CASE tree (see _word_3grams_sqlx; r13 optimization
    round)."""
    bits = _SIMHASH_BITS
    masks = [1 << b for b in range(bits)]
    votes_arr = ", ".join(
        f"(CASE WHEN (h & {m}L) != 0 THEN 1 ELSE -1 END)" for m in masks
    )
    mask_arr = ", ".join(f"{m}L" for m in masks)
    votes = (
        f"aggregate({hs}, array_repeat(0, {bits}), "
        f"(acc, h) -> zip_with(acc, array({votes_arr}), (a, b) -> a + b))"
    )
    packed = (
        f"zip_with({votes}, array({mask_arr}), "
        f"(v, m) -> CASE WHEN v > 0 THEN m ELSE CAST(0 AS BIGINT) END)"
    )
    return f"aggregate({packed}, CAST(0 AS BIGINT), (acc, x) -> acc | x)"


def simhash64(hashes_col: str) -> Column:
    """_SIMHASH_BITS-bit SimHash over a pre-hashed token array, packed into
    one long.

    Per bit b: sign of Σ_tokens (bit b of token hash ? +1 : -1); the
    signature packs the signs into one long. One fold with a per-bit vote
    accumulator (same single-pass rationale as minhash_signature: N
    separate aggregates would re-inline the token-hash transform N×), so
    everything stays in codegen'd higher-order functions.

    Takes a column or field NAME: one F.expr (see _word_3grams_sqlx).
    """
    return F.expr(_simhash_sqlx(hashes_col))


@query(
    "dedup_simhash",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), hashed AS (
      -- 60-bit token hash from the first 15 md5 hex chars: both engines
      -- implement standard md5, and 60 bits fits BIGINT exactly.
      SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
      FROM words
    ), votes AS (
      SELECT doc_id, b.bit AS bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, LATERAL (SELECT unnest(generate_series(0, 59)) AS bit) b
      GROUP BY doc_id, b.bit
    ), sigs AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, sig, c.chunk AS chunk,
             (sig >> (c.chunk * 15)) & 32767 AS chunk_val
      FROM sigs, LATERAL (SELECT unnest(generate_series(0, 3)) AS chunk) c
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
        AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    ORDER BY doc_a, doc_b
    """,
    survey_ref="X2",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signatures, banded into 4×15-bit chunks
    (a pair within hamming distance 3 must agree on ≥1 chunk), verified at
    hamming ≤ 3.

    Token hashes are the first 15 md5 hex chars as a 60-bit integer — md5 is
    identical across engines, so the DuckDB oracle replays the whole
    signature computation bit-for-bit (the previous xxhash64 form was
    Spark-only and could only be rows-count-checked)."""
    d = spread(load_table(spark, sf_dir, "documents"), spark, dense=True)
    hashed = d.select(
        "doc_id",
        F.transform(
            _WORDS(F.col("text")),
            lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
        ).alias("hs"),
    )
    sigs = hashed.select("doc_id", simhash64("hs").alias("sig"))
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), i * 15)
                        .bitwiseAND(F.lit(0x7FFF).cast("long"))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sig", "c.chunk", "c.chunk_val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_keep_first",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, md5(text) AS digest,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT source, count(*) AS n_kept
    FROM ranked WHERE rn = 1
    GROUP BY source ORDER BY source
    """,
    survey_ref="X1",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized dedup policy: keep lowest doc_id per content digest
    (deterministic, unlike dropDuplicates' arbitrary winner), then report
    survivors per source."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )

# Stopword-shingle exclusion for the containment index: a gram present in
# more than this many documents is boilerplate vocabulary, not evidence of
# copying — and each gram with document frequency df fans out C(df, 2)
# candidate pairs, so the cap also bounds the inverted-index join at
# C(64, 2) ≈ 2k pairs per gram. The cap is part of the operator CONTRACT
# (the oracle applies the same exclusion), not a silent approximation.
_CONTAIN_DF_CAP = 64


@query(
    "dedup_overlap_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
      FROM toks
    ), hot AS (
      SELECT gram FROM g GROUP BY gram
      HAVING count(*) > {_CONTAIN_DF_CAP}
    ), kept AS (
      SELECT doc_id, gram FROM g
      WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.gram = g.gram)
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b, s.shared,
           sa.n_kept AS n_a, sb.n_kept AS n_b,
           CAST(s.shared AS DOUBLE) / least(sa.n_kept, sb.n_kept) AS overlap
    FROM shared s
    JOIN sizes sa ON s.doc_a = sa.doc_id
    JOIN sizes sb ON s.doc_b = sb.doc_id
    WHERE s.shared * 10 >= 9 * least(sa.n_kept, sb.n_kept)
    ORDER BY doc_a, doc_b
    """,
    survey_ref="X2c (asymmetric containment: doc-in-doc / quote detection)",
)
def dedup_overlap_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: overlap coefficient
    |A∩B| / min(|A|, |B|) ≥ 0.9 over distinct word-3-gram sets. Jaccard
    (dedup_ngram_jaccard) misses doc-in-doc copying — a 100-gram quote
    inside a 10,000-gram page has Jaccard ≈ 0.01 but containment 1.0 —
    and this is the signature of quoted/boilerplate/wrapper reuse that
    contamination and dedup passes must catch.

    Shape (r12 — ADVICE r11 medium, refining the r11 single-explode
    restructure of VERDICT r10 #7): a cheap df CENSUS (map-side-combinable
    count per gram — the shuffle carries (gram, partial_count) rows, never
    doc_ids) identifies the hot grams, and an anti-join drops them from
    the exploded stream BEFORE the posting-list aggregation (join
    strategy left to AQE — r13: the hot vocabulary GROWS with the corpus,
    so the r12 broadcast HINT was itself a scale-killer, caught live by
    the 100x scale point; see the inline comment).
    The r11 shape applied the cap as a filter on size(docs) AFTER
    collect_list, which materialized the full posting list of a hot gram
    (a corpus-wide boilerplate 3-gram has df in the millions) in a single
    reducer aggregation buffer before discarding it — an unbounded
    per-key memory spike at web scale, and all of a hot gram's doc_ids
    crossed the shuffle just to be thrown away. With the census first,
    every collect_list buffer is ≤ cap doc_ids BY CONSTRUCTION and
    hot-gram rows never enter the posting-list exchange (the anti-join is
    map-side against the broadcast hot set). Cost: the corpus explode runs
    twice (census + kept stream) — 2 passes, not the pre-r11 shape's 4
    (that shape ALSO self-joined grams; this one still generates candidate
    pairs ARRAY-SIDE from each bounded posting list, ≤C(cap,2) per gram,
    a<b by sort order — no theta self-join, no BNLJ). Identical-doc
    cliques larger than the cap vanish entirely (every gram they share
    has df > cap — the cap, not a census collapse, is what bounds cliques
    here; see SCALING.md). The threshold compares EXACT integers
    (shared·10 ≥ 9·min) — no double boundary to flip across engines; the
    reported overlap is the exact-integer quotient, unrounded; the census
    keys on the exact gram STRING (not an 8-byte hash) because a hash
    collision merging two innocent grams' counts past the cap would drop
    grams the oracle keeps."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    g = d.select(
        "doc_id", F.explode(word_3grams("text")).alias("gram")
    )
    # Hot-gram census: count per gram == df (grams are distinct per doc).
    # Partial counts combine map-side, so the exchange carries one
    # (gram, count) row per distinct gram per map partition — hot grams
    # are identified without ever moving their doc_ids.
    # count("doc_id"), not count(*): doc_id is non-null so the semantics
    # are identical, but keeping doc_id live in the census branch defeats
    # column pruning there, so its scan+spread subplan stays canonically
    # IDENTICAL to the posting-list branch's ([doc_id, text] both) and
    # AQE's exchange reuse feeds both explodes from ONE round-robin
    # shuffle (verified in the final adaptive plan: a single
    # ShuffleQueryStage under both Generate nodes).
    hot = (
        g.groupBy("gram")
        .agg(F.count("doc_id").alias("df"))
        .filter(F.col("df") > _CONTAIN_DF_CAP)
        .select("gram")
    )
    # NO broadcast hint (r13 — caught live by the 100x scale point): the
    # hot set is the corpus's boilerplate VOCABULARY, which GROWS with the
    # corpus — the r12 hint OOM'd the 16g driver at a mere 500k docs
    # (~300k hot grams after java-object inflation), and at 100 TB it
    # would be billions of grams. Left to AQE: below the 64m threshold
    # the runtime plan still converts to the broadcast map-side drop
    # (pinned in tests/test_plans.py), above it a shuffled anti-join on
    # gram — which is co-partitioned with the census output AND with the
    # downstream posting-list groupBy(gram), so the fallback costs one
    # gram exchange of (doc_id, gram) rows, never doc_ids of hot grams
    # into an aggregation buffer. The buffer bound is the census
    # CONTRACT either way; only the drop's join strategy adapts.
    kept = g.join(hot, "gram", "left_anti")
    # The per-doc sizes and the pair census both read this posting-list
    # diamond. No persist: the consumers' subplans are identical up to the
    # gram exchange, so AQE's runtime stage reuse executes the
    # scan+explode+anti-join+shuffle-write once and the branches re-read
    # the shuffle files — measured FASTER than a persist (the
    # materialization barrier + InMemoryRelation serialization cost more
    # than the shuffle re-read at every SF tried), and nothing is left
    # pinned in executor memory after the query (a bare persist here
    # would leak until clearCache — there is no memo/unpersist hook on
    # this query's consumption path). Every aggregated row already has
    # size(docs) ≤ cap (census contract), so no post-filter remains.
    bygram = (
        kept.groupBy("gram")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .select("docs")
    )
    sizes = (
        bygram.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    pair_list = F.filter(
        F.flatten(
            F.transform(
                "docs",
                lambda x: F.transform(
                    "docs",
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        ),
        lambda s: s["doc_a"] < s["doc_b"],
    )
    shared = (
        bygram.filter(F.size("docs") >= 2)
        .select(F.explode(pair_list).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    # SHUFFLE_HASH hints (r13 — the second live catch of the 100x scale
    # point): BOTH sides of the size joins are corpus-sized (`shared` is
    # the pair census, `sizes` has one row per doc), but Catalyst's static
    # estimate of the post-explode pair aggregate came out under the 64m
    # threshold and planned `shared` as a BuildLeft BROADCAST — at 100x
    # that collected a ~50M-row pair census through the driver
    # (maxResultSize/heap abort, reproduced in a fresh session; AQE did
    # not demote the statically planned BHJ). A shuffled hash join is the
    # only strategy whose memory is partition-bounded when both sides
    # scale with the corpus; the hint sits on `sizes` (the smaller,
    # one-row-per-doc side) so it becomes the per-partition build side.
    sa = sizes.hint("shuffle_hash").alias("sa")
    sb = sizes.hint("shuffle_hash").alias("sb")
    n_min = F.least(F.col("sa.n_kept"), F.col("sb.n_kept"))
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(F.col("shared") * 10 >= 9 * n_min)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.col("sa.n_kept").alias("n_a"),
            F.col("sb.n_kept").alias("n_b"),
            (F.col("shared").cast("double") / n_min).alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    )

