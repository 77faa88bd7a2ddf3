"""Query catalog: every operator ships as a (query, oracle_sql) pair.

This is the engine's formalization of the reference's implicit test strategy
(SURVEY §5.1): the reference validates by running five implementations of the
same query and comparing; we validate by running the Spark plan and a DuckDB
oracle SQL over identical parquet and hash-comparing (driver t2 gate).

Registration rules (SURVEY §7.4 definition-of-done):
  - alias every computed column identically in Spark and oracle SQL;
  - round float aggregates in-query (both sides) so hashes are stable under
    partition-order float nondeterminism (SURVEY §7.3 #2);
  - never return a raw TimestampType column — cast to DATE / epoch BIGINT /
    string so Spark-driver and DuckDB value representations agree;
  - never return an array/struct-valued column — serialize it (array_join /
    to_json; oracle: string_agg ... ORDER BY) — the driver's pandas
    canonicalizer crashes sorting list cells (unhashable type: 'list');
  - CAST every integer-typed SUM to BIGINT in the oracle SQL — DuckDB
    sum(int) yields HUGEINT, which pandas renders float64 and the driver's
    value hash then diverges from Spark's bigint (tests/compare.py layer 2
    reproduces this class locally);
  - never let a DecimalType reach a Spark-side OUTPUT column: Spark types
    decimal literals (10000.0) as DECIMAL, so BIGINT / 10000.0 is
    decimal(28,7) and renders trailing scale digits ('…6071000') that
    hash-mismatch DuckDB's float64 ('…6071') even when values are equal
    (7 driver reds in round 4). Divide by EXPONENT literals (1e4, 1e2 —
    DOUBLE in both engines) or CAST(... AS DOUBLE) first; enforced by
    tests/test_schema_lint.py (plan sweep) and compare.py (hard error);
  - never emit round(sum(x)/count, d)-style RATIO columns over grid-rounded
    inputs — exact rationals land on round-half boundaries (2409.18/48 =
    50.19125) and parallel summation order then tie-breaks differently per
    run/engine; emit the numerator and denominator instead — or compute the
    ratio on EXACT INTEGERS: value/price columns are ≤2-dp grids, so
    sum(CAST(round(x*100) AS BIGINT))/count/100.0 is bit-identical across
    engines at any scale (this fixed three sf0.1 divergences that were
    invisible at sf0.01; the flagship mean uses the integer-arithmetic
    half-away-from-zero form for the same reason);
  - more generally: NEVER let a DOUBLE SUM/AVG over many rows reach the
    result or a comparison — a parallel float sum's low bits depend on
    partition merge order (round-4 audit: a sqrt-weight normalizer flipped
    floor(100·x) by ±1 under load). Quantize each row to an exact integer
    (cents, 1e-4 units for grid products, 1e-9 for genuine per-row ratios)
    BEFORE the sum, divide once after. Exceptions, each justified at the
    site: integral-valued doubles (partial sums exact), transcendental
    per-row values at ≥4-dp rounding with micro-magnitude noise
    (sql_udf_declared sum_sig), off-grid float avgs with ~1e-14 noise vs
    5e-5 boundaries (sim_label_centroid);
  - per-row derived scalars (lerp, parsed fields) stay UNROUNDED: every op
    is correctly rounded on deterministic inputs, so identical expression
    order means identical bits — rounding them is what INTRODUCES
    divergence (Spark string-BigDecimal HALF_UP vs DuckDB binary round
    disagree on x.xxxx5);
  - any oracle round(x, d) where x can be NEGATIVE near zero needs a `+ 0`
    fold after it (r11 boundary find, caught live on onebrc_report): a
    value in (-0.5·10^-d, 0) rounds to IEEE -0.0 in DuckDB — which the
    driver hash renders '-0.0' and format() prints '-0.0' — while Spark's
    BigDecimal round has no signed zero and emits +0.0. `x + 0` folds
    -0.0 to +0.0 and is the identity everywhere else (NULL included).
    Spark-side F.round never produces -0.0, so only the DuckDB side needs
    the fold. Executed ties: tests/test_boundary_properties.py
    (report band);
  - STRONGER (r12 boundary find, the program's fourth live catch): for a
    rounded output whose input can land EXACTLY on a short-repr decimal
    tie — any rational with a small denominator: cosines of
    integer-coordinate vectors, integer-rank correlations, means of
    integer sums — round(x, d) itself diverges across engines even on
    BIT-IDENTICAL doubles, because Spark's Round reads the DECIMAL
    shortest-string view (BigDecimal.valueOf, HALF_UP) while DuckDB
    rounds the BINARY value: measured live, round(0.1250005, 6) =
    0.125001 in Spark vs 0.125 in DuckDB, and 10,108 of the 900,000
    k/1e7 7th-digit-5 ties diverge. Quantize with floor(x·scale + 0.5)/
    scale instead (similarity.cos_round6 + its _cos6_sql twin; the
    sim_embedding_quantize idiom) — binary ops only, identical in both
    engines, and structurally -0.0-free (subsumes the `+ 0` fold at the
    converted sites: similarity cos_sim family, sim_label_centroid,
    agg_rank_correlation). round(·, d) remains legal only for grid-safe
    values (e.g. onebrc_report's 0.1-grid temperatures, whose decimal
    expansion cannot carry a digit-(d+1) 5). Planted end-to-end:
    tests/test_boundary_properties.py::test_cosine_round_tie_divergence;
  - r13 round() sweep adjudication (VERDICT r12 #6) — every F.round site
    in the engine now carries either the floor quantizer or a grid-safety
    tag referencing one of three arguments: (a) INT-ROUND — rounding to an
    integer is engine-safe for ANY input, because every .5 tie is an
    exactly-representable dyadic double (k.5 is always a double), so the
    decimal shortest-repr view and the binary value COINCIDE at ties, and
    both engines take exact halves away from zero — this covers the whole
    cents-quantization idiom round(x·100)::long regardless of grid. On the
    Spark side it is spelled aggregates.half_away_long(x·100), never
    F.round(x).cast(long/bigint): a double round() is a per-row
    Double.toString + BigDecimal (~0.6 s of the 8M-row flagship scan), the
    helper is inline rint math with identical values
    (tests/test_determinism_lint.py rejects the old spelling; oracles keep
    DuckDB's CAST(round(x) AS BIGINT)); (b) GRID-IDENTITY — the input
    sits on a decimal grid at least as coarse as 10^-d with ≥half-grid
    margin to any (d+1)-digit tie (2-dp prices under round(·,2); integer
    sums; percentile midpoints on the 5e-3 grid under round(·,4)), so the
    round is the identity on the exact value and the computed double is
    within ulps of it; (c) IRRATIONAL — the value is transcendental/
    irrational (ln, sqrt, exp compositions), so a (d+1)-digit-5 shortest
    repr requires the double within half-ulp of that decimal — a
    measure-zero coincidence frozen out by the content-addressed fixtures
    (the sanctioned transcendental exception above). Values that are
    small-denominator RATIONALS (jaccard k/n, double-rounded 6-dp scores,
    cosines of integer vectors) satisfy none of these and use the floor
    quantizer (dedup.jac_round4, similarity.cos_round6, arrays_json._fq);
  - the same applies to EXACT-INTEGER RATIOS (round-5 audit): once the
    numerator is an exact integer, sum/count/scale is the identical double
    in both engines — emit it UNROUNDED. A final round(·, d) re-creates
    the divergence whenever the exact ratio terminates in a 5 at digit
    d+1 (confirmed live: 240918/48/100 → Spark 50.1913, DuckDB 50.1912);
    likewise statistical moments (var/corr/covar/slope) are composed from
    integer moment sums in decimal(38,0)/HUGEINT, divided once, unrounded;
  - sketch estimates (HLL, approx_percentile) are engine-specific: the
    oracle pins the EXACT value plus a tolerance-band boolean computed on
    the Spark side — never the estimate itself;
  - window ORDER BY must be a TOTAL order over the partition — synthetic
    keys are not unique ((l_orderkey, l_linenumber) repeats); add the
    aggregated value columns to the sort key or running frames are
    order-ambiguous;
  - every oracle must be NON-VACUOUS at sf0.01: result rows exist, outer/
    anti joins produce unmatched rows, thresholds are calibrated to the
    corpus (sweep: 0-row results, all-NULL columns, constant columns);
  - non-finite doubles (NaN, ±Inf) in the events.value measurement column
    are NULL from the engine's point of view — normalized at ingestion on
    BOTH sides (catalog.finite_or_null Spark-side; _normalize_events_refs
    rewrites every oracle's events scan). An embedding vector carrying ANY
    non-finite coordinate nulls out as a WHOLE vector (finite_vector_or_
    null + the embeddings scan rewrite): one NaN poisons every cosine, and
    the similarity family's zero-norm/NULL-cosine guards already drop NULL
    vectors identically in both engines. Raw NaN reaching the repo-wide
    exact-integer quantization idiom THROWS in both engines (ANSI
    CAST_OVERFLOW / DuckDB OutOfRange), and the non-throwing paths disagree
    three ways (SQL sorts NaN greatest, pandas kernels skip it, the driver
    comparator can't equate NaN cells). Corollary: a group whose every
    value is NULL aggregates to NULL stats in both engines, but FORMATTED
    outputs diverge (DuckDB format() → NULL → string_agg skips the line;
    Spark renders a sentinel) — filter all-NULL groups symmetrically
    (onebrc_report's min IS NOT NULL; ST6's value IS NOT NULL);
  - oracle=None marks a genuinely non-SQL-expressible op (driver then runs a
    rows-only check).
"""

from __future__ import annotations

import re
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules whose import registers queries. Order is the SURVEY §7.2 build order.
_QUERY_MODULES = [
    "onebrc_spark.operators.aggregates",
    "onebrc_spark.operators.relational",
    "onebrc_spark.operators.joins",
    "onebrc_spark.operators.windows",
    "onebrc_spark.operators.setops",
    "onebrc_spark.functions.scalar",
    "onebrc_spark.functions.arrays_json",
    "onebrc_spark.operators.eventtime",
    "onebrc_spark.operators.dedup",
    "onebrc_spark.operators.clustering",
    "onebrc_spark.operators.similarity",
    "onebrc_spark.operators.textops",
    "onebrc_spark.operators.multimodal",
    "onebrc_spark.operators.udfs",
    "onebrc_spark.operators.sqlsurface",
    "onebrc_spark.operators.storage",
    "onebrc_spark.operators.skew",
    "onebrc_spark.operators.mlprep",
    "onebrc_spark.operators.curation",
    "onebrc_spark.operators.incremental",
    "onebrc_spark.operators.cdc",
    "onebrc_spark.sources.pysource",
    "onebrc_spark.sources.onebrc",
]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL twin; None → rows-only check
    survey_ref: str  # SURVEY §2 row id(s), e.g. "A1-A7,O1"


_REGISTRY: dict[str, Query] = {}

# Driver-coverage rotation (round 13; re-derived each round from the
# recorded CORRECTNESS_r* artifacts): the correctness driver verifies the
# FIRST 50 registry entries per round. Every query has >=1 driver-green row
# across rounds, so the window is staleness-driven (VERDICT r6 #2): after
# the flagship pin and the rows whose code/oracle changed this round, the
# window is exactly the queries with the OLDEST driver evidence. The r13
# window (VERDICT r12 #1 + #6) = the flagship, the 11 rows whose
# engine/oracle text changed in the r13 round() sweep (the jac_round4
# Jaccard quantizer + its minhash_pairs_sql consumers, the _fq array
# quantizers, the tfidf double-round fix — same-round proof precedence,
# r11/r12 precedent), ALL 15 rows whose last driver evidence is round 8
# (age 5 without this rotation), and the oldest 23 round-9 rows.
# Slot 51+ holds the remainder stalest-first (each entry's last
# driver-green round annotated), pre-ordering the r14 rotation. Every
# query not in the window stays pinned locally by
# tests/test_oracle_parity.py, which runs the same oracle comparison
# (plus a driver-strict canonicalizer) over ALL queries, and by the
# freeze gate (sf0.01 per-commit, sf0.1 end-of-round).
_PRIORITY = [
    # (a) pinned every round: the flagship (also the entry() smoke)
    "onebrc_flagship",
    # (b) r13 engine/oracle text changes (same-round proof): the round()
    #     sweep conversions — dedup jac_round4 (+ the raw-ratio minhash
    #     WHERE, whose SQL is embedded by the five cluster oracles), the
    #     fn_array _fq quantizers, the tfidf 4-dp double-round fix, and
    #     the containment plan's two 100x-caught join-strategy fixes
    #     (no hot-set broadcast hint; SHJ size joins).
    "dedup_overlap_containment",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_recall_audit",
    "dedup_cluster_components",
    "dedup_cluster_survivors",
    "dedup_cluster_best_survivor",
    "dedup_graph_pagerank",
    "ml_cluster_safe_split",
    "fn_array_basics",
    "fn_array_higher_order",
    "text_tfidf_top_terms",
    # (c) stalest-first: ALL 15 rows whose last driver evidence is r8
    "sql_lateral_topn",
    "sql_tpch_q13_shape",
    "sql_tpch_q18_shape",
    "sql_tpch_q4_shape",
    "src_python_datasource",
    "storage_json_roundtrip",
    "storage_orc_roundtrip",
    "storage_zorder_layout",
    "text_fuzzy_levenshtein",
    "text_inverted_index",
    "text_pii_redaction",
    "text_quality_score",
    "text_repetition_score",
    "text_stopword_removal",
    "udtf_chunk_documents",
    #     ... and the oldest 23 round-9 rows fill the window to 50.
    "agg_cms_heavy_hitters",
    "cdc_scd2_history",
    "dedup_exact",
    "dedup_simhash",
    "dq_column_profile",
    "dq_snapshot_drift",
    "evt_funnel",
    "evt_stateful_running_stats",
    "fn_collation_ci",
    "fn_date_scaffold",
    "join_broadcast_dims",
    "join_inner_fact",
    "join_left_outer",
    "join_range_interval",
    "join_semi_anti",
    "ml_deterministic_shard",
    "ml_hash_split",
    "ml_source_mix",
    "ml_temperature_mix",
    "mm_frame_sample",
    "onebrc_permissive_quarantine",
    "pivot_status_matrix",
    # ---- slot 51+ (driver verifies the FIRST 50) — remainder ordered
    # stalest-first (last driver-green round ascending, annotated),
    # pre-ordering the r14 rotation; every row stays pinned locally by
    # tests/test_oracle_parity.py and the freeze gate at sf0.01/sf0.1. ----
    "sim_embedding_quantize",  # r9
    "sql_agg_filter_clause",  # r9
    "sql_tpch_q10_shape",  # r9
    "sql_tpch_q11_shape",  # r9
    "sql_tpch_q12_shape",  # r9
    "sql_tpch_q16_shape",  # r9
    "sql_tpch_q20_shape",  # r9
    "sql_tpch_q21_shape",  # r9
    "sql_tpch_q2_shape",  # r9
    "text_token_stats",  # r9
    "text_unigram_rarity",  # r9
    "window_lag_lead",  # r9
    "window_topn_per_group",  # r9
    "agg_approx_percentile",  # r10
    "agg_corr_covar",  # r10
    "agg_equidepth_histogram",  # r10
    "agg_rollup",  # r10
    "agg_stats",  # r10
    "agg_table_fingerprint",  # r10
    "cdc_snapshot_diff",  # r10
    "evt_dedup_by_id",  # r10
    "evt_session_window",  # r10
    "evt_stateful_running_stats_tws",  # r10
    "filter_predicates",  # r10
    "fn_json",  # r10
    "fn_map_roundtrip",  # r10
    "fn_try_arithmetic",  # r10
    "fn_url_parse",  # r10
    "fn_variant_json",  # r10
    "join_asof",  # r10
    "ml_domain_cap",  # r10
    "ml_token_budget",  # r10
    "setop_except",  # r10
    "sort_multi_key",  # r10
    "sql_recursive_cte",  # r10
    "sql_tpch_q14_shape",  # r10
    "sql_tpch_q15_shape",  # r10
    "sql_tpch_q17_shape",  # r10
    "sql_tpch_q19_shape",  # r10
    "sql_tpch_q22_shape",  # r10
    "sql_tpch_q3_shape",  # r10
    "sql_tpch_q5_shape",  # r10
    "sql_tpch_q6_shape",  # r10
    "sql_tpch_q7_shape",  # r10
    "sql_tpch_q8_shape",  # r10
    "sql_tpch_q9_shape",  # r10
    "sql_udf_declared",  # r10
    "storage_bucketed_join",  # r10
    "storage_csv_roundtrip",  # r10
    "storage_schema_evolution",  # r10
    "text_cooccurrence_lift",  # r10
    "text_fingerprint",  # r10
    "text_langid",  # r10
    "text_source_overlap",  # r10
    "udf_grouped_map_zscore",  # r10
    "udf_scalar_sigmoid",  # r10
    "window_running_frames",  # r10
    "agg_count_distinct",  # r11
    "agg_cube",  # r11
    "agg_grouping_sets",  # r11
    "agg_histogram",  # r11
    "agg_min_by_max_by",  # r11
    "agg_sum_count",  # r11
    "cdc_merge_upsert",  # r11
    "dedup_incremental_admission",  # r11
    "dedup_keep_first",  # r11
    "dq_k_anonymity",  # r11
    "dq_key_skew_profile",  # r11
    "evt_anomaly_mad",  # r11
    "evt_sliding_window",  # r11
    "evt_tumbling_window",  # r11
    "evt_watermark_late_drop",  # r11
    "filter_null_semantics",  # r11
    "fn_bitwise",  # r11
    "fn_conditional",  # r11
    "fn_datetime",  # r11
    "fn_hash_digests",  # r11
    "fn_math",  # r11
    "fn_regexp",  # r11
    "fn_strings",  # r11
    "join_cross",  # r11
    "join_full_outer",  # r11
    "join_theta_nonequi",  # r11
    "ml_curation_pipeline",  # r11
    "ml_quality_upsample",  # r11
    "ml_shard_binpack",  # r11
    "mm_decode_real",  # r11
    "mm_decode_stats",  # r11
    "mm_feature_extract",  # r11
    "mm_resize",  # r11
    "onebrc_generated",  # r11
    "onebrc_report",  # r11
    "project_prune",  # r11
    "setop_except_all",  # r11
    "setop_intersect",  # r11
    "setop_intersect_all",  # r11
    "storage_compaction",  # r11
    "text_boilerplate_clean",  # r11
    "text_bpe_merge_pairs",  # r11
    "text_repetition_profile",  # r11
    "agg_approx_count_distinct",  # r12
    "agg_bitmap_distinct",  # r12
    "agg_collect_sorted_list",  # r12
    "agg_hll_sketch_merge",  # r12
    "agg_partial_reaggregation",  # r12
    "agg_rank_correlation",  # r12
    "agg_salted_twophase",  # r12
    "agg_tpch_q1",  # r12
    "dedup_embedding_neardup",  # r12
    "dedup_exact_distinct",  # r12
    "dq_constraint_audit",  # r12
    "dq_observe_metrics",  # r12
    "evt_gap_fill_lerp",  # r12
    "evt_gap_fill_locf",  # r12
    "evt_retention_cohorts",  # r12
    "evt_transition_matrix",  # r12
    "join_asof_forward",  # r12
    "join_salted_skew",  # r12
    "ml_contamination_ngram",  # r12
    "ml_fixed_size_sample",  # r12
    "ml_quantile_filter",  # r12
    "ml_sequence_packing",  # r12
    "ml_stratified_sample",  # r12
    "mm_byte_stats_arrow",  # r12
    "setop_union_all",  # r12
    "sim_ann_ivf",  # r12
    "sim_ann_ivf_sampled",  # r12
    "sim_ann_lsh",  # r12
    "sim_ann_lsh_banded",  # r12
    "sim_ann_recall_audit",  # r12
    "sim_knn_bruteforce",  # r12
    "sim_label_centroid",  # r12
    "sim_lsh_candidate_stats",  # r12
    "sim_semantic_prune",  # r12
    "sort_global_dense_ids",  # r12
    "sql_exists_correlated",  # r12
    "storage_partitioned_pruning",  # r12
    "text_boilerplate_segments",  # r12
    "text_ngram_tf",  # r12
    "text_token_count_bpe",  # r12
    "topk_limit",  # r12
    "udf_grouped_agg_geomean",  # r12
    "unpivot_stack",  # r12
    "window_distribution",  # r12
    "window_first_last_nth",  # r12
    "window_range_frame",  # r12
    "window_ranking",  # r12
]


# Non-finite measurement boundary (the NaN/Inf divergence class): the Spark
# catalog maps NaN/±Inf in events.value to NULL at ingestion
# (sources/catalog.py finite_or_null — one NaN record must degrade to a
# missing value, not CAST_OVERFLOW-kill a 100 TB job). The oracles must see
# the IDENTICAL boundary, so every `FROM/JOIN events` reference in an oracle
# is rewritten at registration to scan through the same normalization —
# DuckDB's `SELECT * REPLACE` keeps the rewrite schema-stable. On NaN-free
# data the CASE is the identity, so every existing oracle hash is unchanged;
# the NaN/Inf fixture rows in tests/test_edge_documents.py pin the class.
_EVENTS_NORM_SCAN = (
    "(SELECT * REPLACE (CASE WHEN isnan(value) OR isinf(value) THEN NULL "
    "ELSE value END AS value) FROM events)"
)
# embeddings twin (catalog.finite_vector_or_null): a vector with ANY
# non-finite coordinate nulls out entirely — the NULL-cosine guards the
# similarity family already carries then drop it consistently on both sides.
_EMBEDDINGS_NORM_SCAN = (
    "(SELECT * REPLACE (CASE WHEN len(list_filter(embedding, "
    "x -> isnan(x) OR isinf(x))) > 0 THEN NULL ELSE embedding END "
    "AS embedding) FROM embeddings)"
)
# words that can follow `events` without being an alias (clause/join
# keywords of the oracle grammar — ADVICE r8 added the join forms DuckDB
# could legally put after a bare scan: ASOF/SEMI/ANTI/NATURAL/POSITIONAL
# joins, TABLESAMPLE, and the set operators)
_SQL_NONALIAS = {
    "group", "where", "order", "window", "on", "join", "left", "right",
    "inner", "cross", "full", "union", "limit", "having", "qualify",
    "using", "when", "and", "or", "as",
    "asof", "semi", "anti", "natural", "positional", "lateral",
    "tablesample", "except", "intersect",
}
def _norm_table_ref(sql: str, table: str, scan: str) -> str:
    """Rewrite every `FROM/JOIN <table> [alias]` to scan the non-finite-
    normalized subquery, preserving an explicit alias when present and
    aliasing back to the table name otherwise. Case-insensitive (ADVICE
    r8): a lowercase `from events` must not silently skip normalization."""
    ref = re.compile(
        rf"\b(FROM|JOIN)(\s+){table}\b(\s+([A-Za-z_]\w*))?", re.IGNORECASE
    )

    def repl(m: re.Match) -> str:
        kw, ws, alias = m.group(1), m.group(2), m.group(4)
        if alias and alias.lower() not in _SQL_NONALIAS:
            return f"{kw}{ws}{scan} {alias}"
        tail = m.group(3) or ""
        return f"{kw}{ws}{scan} {table}{tail}"

    return ref.sub(repl, sql)


def _assert_fully_normalized(sql: str, table: str, scan: str, name: str) -> None:
    """Registration-time tripwire (ADVICE r8): after the rewrite, no bare
    `FROM/JOIN <table>` reference may remain outside the normalized scan
    text itself — a miss means a query would silently compare against
    un-normalized non-finite values (divergence surfaces only when that
    oracle meets a NaN fixture, i.e. far from the edit that broke it)."""
    residue = sql.replace(scan, "<NORMSCAN>")
    if re.search(rf"\b(FROM|JOIN)\s+{table}\b", residue, re.IGNORECASE):
        raise ValueError(
            f"oracle for {name!r}: a bare `{table}` table reference survived "
            f"non-finite normalization — extend _SQL_NONALIAS / fix "
            f"_norm_table_ref"
        )


def _normalize_events_refs(sql: str, name: str = "<oracle>") -> str:
    sql = _norm_table_ref(sql, "events", _EVENTS_NORM_SCAN)
    sql = _norm_table_ref(sql, "embeddings", _EMBEDDINGS_NORM_SCAN)
    _assert_fully_normalized(sql, "events", _EVENTS_NORM_SCAN, name)
    _assert_fully_normalized(sql, "embeddings", _EMBEDDINGS_NORM_SCAN, name)
    return sql


def query(name: str, oracle: str | None, survey_ref: str) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register fn as queries()[name] with its oracle twin."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        normalized = _normalize_events_refs(oracle, name) if oracle else oracle
        _REGISTRY[name] = Query(name, fn, normalized, survey_ref)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    rank = {n: i for i, n in enumerate(_PRIORITY)}
    missing = set(_PRIORITY) - set(_REGISTRY)
    if missing:
        raise ValueError(f"_PRIORITY names not registered: {sorted(missing)}")
    names = sorted(
        _REGISTRY, key=lambda n: (rank.get(n, len(_PRIORITY)), list(_REGISTRY).index(n))
    )
    return {n: _REGISTRY[n] for n in names}


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in load_all().values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in load_all().values() if q.oracle is not None}
