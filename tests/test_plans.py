"""Physical-plan pins (SURVEY §4): the plan properties the 100 TB design
relies on must hold, not just be intended.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from onebrc_spark.operators.aggregates import onebrc_flagship
from onebrc_spark.operators.joins import join_broadcast_dims
from onebrc_spark.operators.relational import project_prune, topk_limit
from onebrc_spark.sources.catalog import load_table
from tests.conftest import SMOKE_SF_DIR
from tests.plan_text import explain_str, num_exchanges


def pushed_filters(df) -> list[str]:
    """PushedFilters lists from every parquet scan node in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", explain_str(df))


def read_schema_columns(df) -> list[list[str]]:
    """Column names in each scan's ReadSchema (column-pruning witness)."""
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", explain_str(df))
    return [
        [c.split(":")[0].strip() for c in s.split(",") if c.strip()] for s in schemas
    ]


def has_broadcast_join(df) -> bool:
    txt = explain_str(df)
    return "BroadcastHashJoin" in txt or "BroadcastNestedLoopJoin" in txt


def test_explain_str_is_thread_safe(spark):
    """Threads reading plan text at once each get their own frame's plan,
    and sys.stdout is left as it was: the text comes from the JVM, not
    from a redirected process-wide stdout."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    frames = [spark.range(3).selectExpr(f"id + {i} AS col_{i}") for i in range(6)]
    stdout = sys.stdout

    def read(i: int) -> list[str]:
        return [explain_str(frames[i]) for _ in range(5)]

    with ThreadPoolExecutor(max_workers=6) as pool:
        texts = list(pool.map(read, range(6), timeout=300))
    assert sys.stdout is stdout
    for i, plans in enumerate(texts):
        for txt in plans:
            cols = set(re.findall(r"\bcol_(\d)\b", txt))
            assert cols == {str(i)}, (i, txt)


def test_flagship_is_partial_final_hashagg_one_exchange(spark):
    df = onebrc_flagship(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "HashAggregate" in txt
    # partial+final pair over ONE hash exchange on the group key (the A1/A2
    # shape every reference impl hand-builds); the orderBy adds one range
    # exchange for the global sort.
    assert txt.count("HashAggregate") >= 2
    assert num_exchanges(df) == 2
    # the cents sum uses half_away_long's inline rint, not the per-row
    # BigDecimal that Spark compiles a double round() to
    assert "rint(" in txt and "round(" not in txt


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    df = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    filters = pushed_filters(df)
    assert any("l_returnflag" in f for f in filters), filters


def test_column_pruning_reaches_parquet(spark):
    df = project_prune(spark, SMOKE_SF_DIR)
    cols = read_schema_columns(df)
    # lineitem has 11 columns; the scan must read only the 4 referenced.
    assert cols and all(len(c) <= 4 for c in cols), cols


def test_dim_join_broadcasts_no_fact_shuffle_before_agg(spark):
    df = join_broadcast_dims(spark, SMOKE_SF_DIR)
    assert has_broadcast_join(df)
    txt = explain_str(df)
    assert "SortMergeJoin" not in txt


def test_topk_fuses_to_take_ordered(spark):
    df = topk_limit(spark, SMOKE_SF_DIR)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_partitioned_write_prunes_partitions(spark):
    """The partition-column filter must become a PartitionFilter (directory
    pruning before IO), not a data filter."""
    from onebrc_spark.operators.storage import storage_partitioned_pruning

    df = storage_partitioned_pruning(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    m = [ln for ln in txt.splitlines() if "PartitionFilters" in ln]
    assert m and any("l_returnflag" in ln for ln in m), txt[:2000]


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed on the join key → join runs with zero shuffles;
    the only exchange is the final single-partition orderBy."""
    from onebrc_spark.operators.storage import storage_bucketed_join

    # At smoke scale Spark (correctly) prefers broadcasting the tiny dim; the
    # bucketed-layout property under test is the big-big case, so disable
    # broadcast to force the shuffle decision the layout is designed to avoid.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = storage_bucketed_join(spark, SMOKE_SF_DIR)
        txt = explain_str(df, mode="simple")
        assert "SortMergeJoin" in txt, txt
        # exactly ONE hash exchange — the groupBy(c_mktsegment) after the
        # join. The join itself is exchange-free on both bucketed scans (an
        # unbucketed SMJ adds two more).
        assert txt.count("Exchange hashpartitioning") == 1, txt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_contamination_broadcasts_test_side(spark):
    """X7: the held-out split's gram set must broadcast — the training
    corpus (the 100 TB side) never shuffles for the contamination join."""
    from onebrc_spark.operators.curation import ml_contamination_ngram

    df = ml_contamination_ngram(spark, SMOKE_SF_DIR)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in explain_str(df)


def test_stopword_top_k_is_take_ordered_and_broadcast(spark):
    """X4b: the data-driven stoplist is a top-K (TakeOrdered — no global
    sort of the vocabulary) and joins back by broadcast."""
    from onebrc_spark.operators.curation import text_stopword_removal

    df = text_stopword_removal(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "TakeOrderedAndProject" in txt
    assert has_broadcast_join(df)


def test_sequence_packing_windows_per_shard_no_global_sort(spark):
    """X6: packing must window per source shard — a single global window
    (one partition holding the whole corpus) would be the scale-killer."""
    from onebrc_spark.operators.curation import ml_sequence_packing

    df = ml_sequence_packing(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    # The window's exchange partitions by source, not a single partition.
    assert "Window" in txt
    assert "hashpartitioning(source" in txt, txt[:3000]


def test_tpch_q6_pushes_all_predicates_and_prunes_columns(spark):
    """Q6 is decided at the scan: every predicate column appears in
    PushedFilters and the ReadSchema is exactly the 4 referenced columns
    (of lineitem's 11) — the property that makes the shape I/O-bound-only
    at 100 TB."""
    from onebrc_spark.operators.sqlsurface import sql_tpch_q6_shape

    df = sql_tpch_q6_shape(spark, SMOKE_SF_DIR)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    cols = read_schema_columns(df)
    assert cols and all(
        set(c) == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}
        for c in cols
    ), cols


def test_fixed_size_sample_fuses_to_take_ordered(spark):
    """Exact-k hash sample must be per-partition heap + driver merge of P*k
    rows (TakeOrderedAndProject), never a full shuffle sort of the corpus."""
    from onebrc_spark.operators.mlprep import ml_fixed_size_sample

    df = ml_fixed_size_sample(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "TakeOrderedAndProject" in txt
    assert "Exchange rangepartitioning" not in txt


def test_cdc_merge_single_shuffle_per_side(spark):
    """The MERGE full-outer join must shuffle each side once on the key —
    no extra exchanges between the join and the final aggregate beyond the
    group-by's own."""
    from onebrc_spark.operators.cdc import cdc_merge_upsert

    df = cdc_merge_upsert(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert txt.count("Exchange hashpartitioning") <= 4, txt[:3000]


def test_q18_in_subquery_becomes_semi_join(spark):
    """The IN (grouped HAVING) subquery must decorrelate to a LEFT SEMI
    join on the pre-aggregated qualifying keys, never a per-row subquery."""
    from onebrc_spark.operators.sqlsurface import sql_tpch_q18_shape

    df = sql_tpch_q18_shape(spark, SMOKE_SF_DIR)
    assert "LeftSemi" in explain_str(df)


def test_q19_disjunction_splits_to_both_scans(spark):
    from onebrc_spark.operators.sqlsurface import sql_tpch_q19_shape

    df = sql_tpch_q19_shape(spark, SMOKE_SF_DIR)
    filters = pushed_filters(df)
    # Catalyst factors per-side hulls out of the OR-of-ANDs: the quantity
    # bands reach the lineitem scan, the brand/size disjunction reaches the
    # part scan — most rows die before the join.
    assert any("l_quantity" in f for f in filters), filters
    assert any("p_brand" in f for f in filters), filters
    txt = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in txt and "NestedLoop" not in txt


def test_q21_single_lineitem_scan(spark):
    """The q21 rewrite's whole point: the EXISTS + NOT EXISTS pair is
    folded into per-order distinct-supplier counts, so lineitem is scanned
    ONCE (the SQL decorrelation scans it three times with no
    ReusedExchange — round-3 regression), and the top-20 fuses into
    TakeOrderedAndProject."""
    from onebrc_spark.operators.sqlsurface import sql_tpch_q21_shape

    import re

    df = sql_tpch_q21_shape(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    scans = re.findall(r"Location:[^\n]*lineitem", txt)
    assert len(scans) == 1, txt
    assert "LeftSemi" not in txt and "LeftAnti" not in txt, txt
    # two countDistincts would compile to an Expand (3x shuffle volume);
    # the two-level aggregation must keep the plan Expand-free
    assert "Expand" not in txt, txt
    assert "TakeOrderedAndProject" in txt
    assert "CartesianProduct" not in txt


def test_q4_exists_becomes_semi_join(spark):
    from onebrc_spark.operators.sqlsurface import sql_tpch_q4_shape

    df = sql_tpch_q4_shape(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "LeftSemi" in txt, txt
    # The date window reaches the orders scan.
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_q22_scalar_subquery_and_anti_join(spark):
    from onebrc_spark.operators.sqlsurface import sql_tpch_q22_shape

    df = sql_tpch_q22_shape(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "LeftAnti" in txt, txt
    assert "Subquery" in txt or "scalar-subquery" in txt, txt


def test_aqe_splits_skewed_join_partitions(spark):
    """100 TB skew story, executed not narrated: a 90%-one-key join under
    AQE must show skew-split sort-merge join in the FINAL (adaptive) plan.
    Thresholds are lowered so the tiny fixture trips the same code path a
    hot key trips at scale; operators/skew.py covers the complementary
    case (skewed AGGREGATION) that AQE cannot rewrite."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS v"
        )
        right = spark.range(2_000).selectExpr("id AS k", "id * 2 AS w")
        joined = left.join(right, "k").groupBy().count()
        joined.collect()
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_strategy_hints_are_honored(spark):
    """The three physical join strategies are selectable per-join — the
    knob you reach for when AQE's choice is wrong at scale (e.g. forcing
    shuffle-hash for a large-but-uniform build side where sort-merge's
    double sort dominates)."""
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    orders = load_table(spark, SMOKE_SF_DIR, "orders")

    bcast = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    assert "BroadcastHashJoin" in explain_str(bcast)

    shj = li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
    assert "ShuffledHashJoin" in explain_str(shj)

    smj = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in explain_str(smj)


def test_unigram_rarity_topk_is_take_ordered(spark):
    """X4c: the outlier cut must be distributed top-k, not a global sort."""
    from onebrc_spark.operators.curation import text_unigram_rarity

    df = text_unigram_rarity(spark, SMOKE_SF_DIR)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_deterministic_shard_single_shuffle(spark):
    """X11b: shard manifest = partial/final agg over ONE hash exchange
    (plus the output orderBy's range exchange) — the text never shuffles.
    min_by's string ordering buffer forces SortAggregate (not hash), but
    the partial/final split — the map-side-combine property the 100 TB
    design needs — must still hold."""
    from onebrc_spark.operators.mlprep import ml_deterministic_shard

    df = ml_deterministic_shard(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert txt.count("SortAggregate") + txt.count("HashAggregate") >= 2
    assert "partial_min_by" in txt, txt[:2000]
    assert num_exchanges(df) == 2, txt[:2000]


def test_embedding_quantize_no_join_no_window(spark):
    """X3b: narrow per-row fold + one agg — no joins, no windows, and the
    scan reads only the two referenced columns."""
    from onebrc_spark.operators.similarity import sim_embedding_quantize

    df = sim_embedding_quantize(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "Join" not in txt and "Window" not in txt
    cols = read_schema_columns(df)
    assert cols and all(len(c) <= 2 for c in cols), cols


def test_q15_scalar_subquery_reuses_cte_aggregate(spark):
    """Q15: the revenue CTE feeds both the join and the scalar max() —
    the plan must contain the scalar subquery (broadcast of one row), and
    the supplier dim side must broadcast, not sort-merge."""
    from onebrc_spark.operators.sqlsurface import sql_tpch_q15_shape

    df = sql_tpch_q15_shape(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "Subquery" in txt
    assert "SortMergeJoin" not in txt


def test_q20_in_subquery_with_having_is_semi_join(spark):
    from onebrc_spark.operators.sqlsurface import sql_tpch_q20_shape

    df = sql_tpch_q20_shape(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert "LeftSemi" in txt, txt[:2000]


def test_runtime_bloom_filter_prefilters_fact_side(spark):
    """Runtime filtering (the 100 TB fact-fact join lever): a selective
    filter on one join side must inject a bloom_filter_agg on that side and
    pre-filter the big side's rows BEFORE the join shuffle — at cluster
    scale this is the difference between shuffling the whole fact table and
    shuffling the ~1% that can match. Thresholds are lowered because smoke
    data is far below the production defaults (10 MB creation side)."""
    from onebrc_spark.sources.catalog import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SMOKE_SF_DIR, "lineitem")
        o = load_table(spark, SMOKE_SF_DIR, "orders")
        df = (
            li.join(
                o.filter(F.col("o_orderpriority") == "1-URGENT"),
                li.l_orderkey == o.o_orderkey,
            )
            .groupBy("l_returnflag")
            .count()
        )
        txt = explain_str(df)
        assert "bloom_filter_agg" in txt, txt[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_q2_correlated_subquery_decorrelates(spark):
    """The Q2-shape correlated min subquery must decorrelate to an
    aggregate-then-join (no per-outer-row subquery re-execution, no
    cartesian): the physical plan contains only hash/sort-merge joins and
    zero Subquery nodes."""
    from onebrc_spark.operators.sqlsurface import sql_tpch_q2_shape

    txt = explain_str(sql_tpch_q2_shape(spark, SMOKE_SF_DIR))
    assert "Subquery" not in txt, txt
    assert "CartesianProduct" not in txt and "NestedLoop" not in txt, txt
    assert "Join Inner" in txt or "Join" in txt


def test_q16_not_in_becomes_anti_join(spark):
    """Q16's NOT IN subquery must plan as a (null-aware) left anti join —
    one pass over the fact, not a per-row probe."""
    from onebrc_spark.operators.sqlsurface import sql_tpch_q16_shape

    txt = explain_str(sql_tpch_q16_shape(spark, SMOKE_SF_DIR))
    assert "LeftAnti" in txt, txt
    assert "CartesianProduct" not in txt, txt


def test_incremental_admission_never_joins_corpus_with_itself(spark):
    """The incremental gate's scale contract: band joins are batch×corpus
    only. Pin it structurally — the near-dup candidate join's two sides
    must carry opposite is_new filters, so the corpus side never self-joins
    (that quadrant is what makes re-running global dedup unaffordable)."""
    from onebrc_spark.operators.incremental import dedup_incremental_admission

    df = dedup_incremental_admission(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    # Both polarity filters appear: Catalyst compiles the batch side's
    # `bucket < 3` and the corpus side's negation as `bucket >= 3`.
    assert "< 3" in txt, "batch-side membership filter missing"
    assert ">= 3" in txt, "corpus-side (negated) membership filter missing"
    # and the plan has no cartesian product anywhere
    assert "CartesianProduct" not in txt

    # Structural pin on the candidate join itself (the band_key join in
    # the optimized plan): following each side's row-source path (child 0)
    # down to its first Filter must reach the batch polarity on one side
    # and the corpus polarity on the other — a corpus×corpus (or
    # batch×batch) band join would repeat one of them.
    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    def source_filter(node):
        while node.nodeName() != "Filter":
            node = node.children().apply(0)
        return node.condition().sql()

    band_joins = [
        n
        for n in walk(df._jdf.queryExecution().optimizedPlan())
        if n.nodeName() == "Join"
        and n.condition().isDefined()
        and "band_key" in n.condition().get().sql()
    ]
    assert len(band_joins) == 1, [n.simpleString(5) for n in band_joins]
    sides = band_joins[0].children()
    conds = [source_filter(sides.apply(i)) for i in range(sides.size())]
    assert sorted(">= 3" in c for c in conds) == [False, True], conds
    assert sorted("< 3" in c for c in conds) == [False, True], conds


def test_semantic_prune_centroid_is_broadcast(spark):
    """sim_semantic_prune's scale contract: the centroid table (clusters ×
    dim) is the broadcast side; the exploded vector table is never built
    twice into a shuffle join."""
    from onebrc_spark.operators.similarity import sim_semantic_prune

    df = sim_semantic_prune(spark, SMOKE_SF_DIR)
    assert has_broadcast_join(df)


def test_source_overlap_joins_vocabulary_not_corpus(spark):
    """text_source_overlap shuffles the distinct (source, shingle)
    vocabulary; the size join sides are broadcast (dim-sized census)."""
    from onebrc_spark.operators.curation import text_source_overlap

    df = text_source_overlap(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in txt


def test_cms_sketch_and_topk_are_broadcast(spark):
    """agg_cms_heavy_hitters' scale contract: the only big-side shuffle is
    the map-side-combined (token, cnt) wordcount; the 2048-cell sketch and
    the top-K list join back as broadcasts, and nothing is cartesian."""
    from onebrc_spark.operators.aggregates import agg_cms_heavy_hitters

    df = agg_cms_heavy_hitters(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in txt


def test_snapshot_drift_one_scan_two_histograms(spark):
    """dq_snapshot_drift's scale claim: ONE conditional-aggregation pass
    builds both snapshots' histograms (no per-snapshot rescan), the bounds
    pre-pass joins in as a BROADCAST (never a shuffle of the fact side),
    and the bucket aggregation carries a map-side partial."""
    from onebrc_spark.operators.relational import dq_snapshot_drift

    df = dq_snapshot_drift(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    # one scan of orders only (bounds pre-pass is its own scan of the same
    # file — 2 total; a per-snapshot split would make it 3+). Formatted
    # explain renders every scan twice (tree line + detail header), so the
    # string count is 2× the physical scan count.
    assert txt.count("Scan parquet") <= 4, txt.count("Scan parquet")
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastExchange" in txt
    assert txt.count("HashAggregate") >= 2  # partial+final on bucket
    assert "SortMergeJoin" not in txt


def test_cluster_best_survivor_broadcasts_membership_onto_corpus(spark):
    """dedup_cluster_best_survivor's scale claim: the dim-sized cluster
    membership broadcasts onto the documents scan — the corpus side never
    shuffles for the quality lookup; the rank window partitions by
    cluster_id over label-sized rows."""
    from onebrc_spark.operators.clustering import dedup_cluster_best_survivor

    df = dedup_cluster_best_survivor(spark, SMOKE_SF_DIR)
    txt = explain_str(df)
    assert has_broadcast_join(df)
    assert "RunningWindowFunction" in txt or "Window" in txt


def test_cms_heavy_hitters_map_side_combine_and_broadcast_readback(spark):
    """agg_cms_heavy_hitters' scale claims: the token stream combines
    map-side (partial_count under the token shuffle — raw tokens never
    shuffle), the top-K readback is a TakeOrdered (no global sort of the
    vocabulary), and both readback joins (top-K tokens, D×W sketch cells)
    are broadcasts — the vocabulary-sized side never SortMergeJoins."""
    from onebrc_spark.operators.aggregates import agg_cms_heavy_hitters

    df = agg_cms_heavy_hitters(spark, SMOKE_SF_DIR)
    txt = explain_str(df, mode="simple")
    assert "partial_count" in txt, txt[:2000]
    assert "TakeOrderedAndProject" in txt
    assert txt.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in txt


def test_recall_audit_corpus_never_shuffles(spark):
    """sim_ann_recall_audit's scale claim: both corpus-sized joins (exact
    truth strip, candidate generation) build on the broadcast query side —
    no corpus-side SortMergeJoin; the only exchanges touch query-keyed
    pair/count rows."""
    from onebrc_spark.operators.similarity import sim_ann_recall_audit

    df = sim_ann_recall_audit(spark, SMOKE_SF_DIR)
    txt = explain_str(df, mode="simple")
    assert "SortMergeJoin" not in txt, txt[:3000]
    assert "BroadcastNestedLoopJoin" in txt  # the exact-cosine truth strip
    assert "BroadcastHashJoin" in txt  # the band-bucket candidate join
    # Scan census: exactly 2 corpus-sized embeddings scans (truth strip +
    # corpus band table); the other 3 are query-side, pruned to |Q| by the
    # pushed vec_id budget predicate. A new full-corpus scan would bump
    # this count — the cheap tripwire for the "corpus scanned twice" claim.
    assert txt.count("embeddings.parquet") == 5, txt[:3000]


def test_scd2_one_exchange_feeds_both_windows(spark):
    """cdc_scd2_history's scale claim: the lag-collapse window and the
    lead-interval window share the custkey clustering — ONE hash exchange,
    not one per window."""
    from onebrc_spark.operators.cdc import cdc_scd2_history

    df = cdc_scd2_history(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    # exactly one hash exchange (both windows share the custkey clustering);
    # the only other exchange is the presentation sort's rangepartitioning.
    import re

    assert len(re.findall(r"Exchange hashpartitioning", txt)) == 1, txt[:2000]


def test_key_skew_profile_map_side_combine_topk_broadcast(spark):
    """dq_key_skew_profile's scale claims: the per-family key count
    combines map-side (partial_count under the key shuffle), the top-K is
    a TakeOrdered (no global sort of the key census), and the one-row
    family summary joins by broadcast."""
    from onebrc_spark.operators.skew import dq_key_skew_profile

    df = dq_key_skew_profile(spark, SMOKE_SF_DIR)
    txt = explain_str(df, mode="simple")
    assert "partial_count" in txt, txt[:2000]
    assert "TakeOrderedAndProject" in txt
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastExchange" in txt
    assert "SortMergeJoin" not in txt


def test_domain_cap_and_token_budget_single_source_exchange(spark):
    """ml_domain_cap / ml_token_budget scale claims: each is ONE hash
    exchange on `source` (the window clustering; the presentation sort adds
    its rangepartitioning) carrying (doc_id, n_tokens) — the text never
    shuffles — and no join of any kind."""
    import re

    from onebrc_spark.operators.mlprep import ml_domain_cap, ml_token_budget

    for fn in (ml_domain_cap, ml_token_budget):
        df = fn(spark, SMOKE_SF_DIR)
        txt = explain_str(df, "simple")
        assert len(re.findall(r"Exchange hashpartitioning", txt)) == 1, (
            fn.__name__,
            txt[:2000],
        )
        assert "Join" not in txt, (fn.__name__, txt[:2000])


def test_quality_upsample_map_side_combine_no_join(spark):
    """ml_quality_upsample: pure per-row map + one map-side-combinable
    aggregate on source — one hash exchange, partial aggregation present,
    no join, no window."""
    from onebrc_spark.operators.mlprep import ml_quality_upsample

    import re

    df = ml_quality_upsample(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert len(re.findall(r"Exchange hashpartitioning", txt)) == 1, txt[:2000]
    assert "partial_sum" in txt or "partial_count" in txt, txt[:2000]
    assert "Join" not in txt and "Window" not in txt, txt[:2000]


def test_global_dense_ids_no_single_partition_window(spark):
    """sort_global_dense_ids' scale claim: the id assignment must never
    contain the naive form's 'Exchange SinglePartition' feeding a Window —
    ids come from a rangepartitioning shuffle + per-partition windows +
    broadcast offsets. (The presentation orderBy's rangepartitioning on
    global_id is the only global ordering step.)"""
    from onebrc_spark.operators.relational import sort_global_dense_ids

    df = sort_global_dense_ids(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "Window" in txt, txt[:2000]
    assert "Exchange SinglePartition" not in txt, txt[:3000]
    assert "Exchange rangepartitioning" in txt, txt[:2000]
    assert has_broadcast_join(df)


def test_repetition_profile_shuffles_carry_counts_not_text(spark):
    """text_repetition_profile's scale claims: explode → wordcount →
    per-doc fold is two hash exchanges on (doc_id, word) / doc_id with
    map-side partial aggregation, plus the doc-spine join's exchange —
    the text column itself never appears in a shuffle (pruned before the
    explode output is aggregated)."""
    import re

    from onebrc_spark.operators.textops import text_repetition_profile

    df = text_repetition_profile(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "partial_count" in txt or "partial_sum" in txt, txt[:2000]
    assert "Generate explode" in txt, txt[:2000]
    # hash exchanges: wordcount key, per-doc fold, spine-join key(s) — and
    # none of them may carry the raw text column
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", txt):
        assert "text" not in m.group(1), m.group(0)


def test_anomaly_mad_join_backs_are_broadcast(spark):
    """evt_anomaly_mad's scale claims: both median join-backs broadcast the
    GROUP-cardinality-sized side (never a fact-fact SortMergeJoin), and the
    medians sort within groups, not globally."""
    from onebrc_spark.operators.eventtime import evt_anomaly_mad

    df = evt_anomaly_mad(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "BroadcastHashJoin" in txt, txt[:2000]
    assert "SortMergeJoin" not in txt, txt[:3000]
    assert "Exchange SinglePartition" not in txt, txt[:3000]


def test_overlap_containment_census_bounds_posting_buffers(spark):
    """dedup_overlap_containment's scale claims (r12 shape — ADVICE r11
    medium; r13: both 100x live catches folded in): the hot-gram df census
    runs BEFORE the posting-list aggregation and combines map-side
    (partial_count — the census shuffle carries (gram, count) rows, never
    doc_ids), the hot set anti-joins out BEFORE collect_list (map-side
    drop while the vocabulary is broadcastable; the r13 change leaves the
    strategy to AQE because the hot vocabulary GROWS with the corpus and
    a broadcast HINT OOM'd the driver at the 100x scale point), candidate
    pairs are still generated array-side from the bounded posting lists
    (no gram self-join, no BroadcastNestedLoopJoin / cartesian), and —
    the r13 second catch — the size joins are SHUFFLED hash joins: both
    sides (pair census, per-doc sizes) are corpus-sized, and Catalyst's
    static under-estimate of the post-explode aggregate used to plan
    `shared` as a BuildLeft broadcast, collecting a ~50M-row pair census
    through the driver at 100x. The r11 shape applied the cap AFTER
    collect_list, materializing a hot gram's full posting list in one
    reducer buffer — unbounded per-key memory on a skewed corpus."""
    from onebrc_spark.operators.dedup import dedup_overlap_containment

    df = dedup_overlap_containment(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in txt, txt[:3000]
    assert "CartesianProduct" not in txt, txt[:3000]
    assert "partial_count" in txt, txt[:2000]
    assert "LeftAnti" in txt, txt[:3000]
    # no sort barrier anywhere (the anti-join stays hash-based at this SF's
    # static estimate; the size joins are hinted SHJ, never SMJ)
    assert "SortMergeJoin" not in txt, txt[:3000]
    # the two size joins must be ShuffledHashJoin — partition-bounded
    # memory when both sides scale with the corpus (r13 100x catch)
    assert txt.count("ShuffledHashJoin") == 2, txt[:3000]
    # the pair census must NOT be a broadcast build side: every
    # BroadcastExchange in the (pre-AQE-reuse) plan text is the
    # vocabulary-sized hot-gram set feeding a LeftAnti — the diamond
    # repeats once per consumer branch until runtime exchange reuse
    assert txt.count("BroadcastExchange") == txt.count("LeftAnti"), txt[:3000]
    # the posting-list aggregation consumes the anti-joined stream: the
    # collect_list partial must sit ABOVE the LeftAnti join in plan text
    assert txt.index("partial_collect_list") < txt.index("LeftAnti"), txt[:3000]


def test_curation_pipeline_one_pass_two_shuffles(spark):
    """ml_curation_pipeline's scale claim: the composed 4-stage funnel is
    ONE pass — one hash exchange on digest, one on source feeding BOTH
    source-windows (rank and budget share the clustering), a single
    partial/final census, and an explode fan-out. No join, no union of
    re-planned census branches, no per-stage scans."""
    import re

    from onebrc_spark.operators.curation import ml_curation_pipeline

    df = ml_curation_pipeline(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert len(re.findall(r"Exchange hashpartitioning", txt)) == 2, txt[:3000]
    assert "Join" not in txt, txt[:3000]
    assert txt.count("documents.parquet") == 1, txt[:3000]


def test_boilerplate_segments_hot_set_broadcast_no_text_shuffle(spark):
    """text_boilerplate_segments' scale claims: the df census combines
    map-side (partial_count on the 8-byte hash key), the hot set joins
    back as a BroadcastHashJoin, and nothing degenerates to a
    BroadcastNestedLoopJoin / cartesian pairing. Round 7: the exploded
    segment stream is localCheckpoint'ed, so the segmenter executes ONCE —
    both consumers (census + mark) scan the checkpointed RDD (two
    ExistingRDD references, zero Generate in the visible plan), and the
    only remaining parquet read is the dim-sized per-source n_docs census
    (prunes to the `source` column)."""
    from onebrc_spark.operators.curation import text_boilerplate_segments

    df = text_boilerplate_segments(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "BroadcastHashJoin" in txt, txt[:3000]
    assert "BroadcastNestedLoopJoin" not in txt, txt[:3000]
    assert "CartesianProduct" not in txt, txt[:3000]
    assert "partial_count" in txt, txt[:2000]
    # single-materialization pin: re-inlining the segmenter per consumer
    # (the round-6 shape) would resurface Generate and a second text scan
    assert txt.count("ExistingRDD") == 2, txt[:3000]
    assert "Generate" not in txt, txt[:3000]
    assert txt.count("documents.parquet") == 1, txt[:3000]


def test_bpe_merge_pairs_two_shuffles_takeordered(spark):
    """text_bpe_merge_pairs' scale claims: both aggregations combine
    map-side (partial_count before the vocabulary exchange), the top-30 is
    a TakeOrdered (no global sort), and only two exchanges exist — the
    vocabulary and the |alphabet|^2-bounded pair table."""
    import re

    from onebrc_spark.operators.textops import text_bpe_merge_pairs

    df = text_bpe_merge_pairs(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in txt, txt[:3000]
    assert "partial_count" in txt, txt[:3000]
    assert len(re.findall(r"Exchange hashpartitioning", txt)) == 2, txt[:3000]
    assert "ReadSchema: struct<text:string>" in txt, txt[:3000]


def test_boilerplate_clean_one_key_exchange_no_text_shuffle(spark):
    """text_boilerplate_clean's scale claims: exactly one hashpartitioning
    exchange (the 8-byte df census — within-doc dedup happens narrowly via
    array_distinct, so no (hash, doc_id) distinct shuffle), the census
    combines map-side, the hot set arrives by broadcast, and the scan
    reads only (doc_id, text)."""
    import re

    from onebrc_spark.operators.curation import text_boilerplate_clean

    df = text_boilerplate_clean(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert len(re.findall(r"Exchange hashpartitioning", txt)) == 1, txt[:3000]
    assert "partial_count" in txt, txt[:3000]
    assert "BroadcastExchange" in txt, txt[:3000]
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in txt, txt[:3000]


def test_shard_binpack_no_single_partition_rank(spark):
    """ml_shard_binpack's scale claim: the global size rank uses the
    two-phase form (range repartition + broadcast offset join), so the
    plan must carry NO single-partition exchange and NO un-partitioned
    window (the WindowExec everything-to-one-partition trap), and the
    offsets must arrive by broadcast."""
    from onebrc_spark.operators.mlprep import ml_shard_binpack

    df = ml_shard_binpack(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "Exchange SinglePartition" not in txt, txt[:3000]
    assert "BroadcastHashJoin" in txt, txt[:3000]
    assert "BroadcastNestedLoopJoin" not in txt, txt[:3000]


def test_graph_pagerank_takeordered_no_cartesian(spark):
    """dedup_graph_pagerank's scale claims: the top-K leaves as a
    TakeOrdered (no global sort), the integer rank sums combine map-side,
    nothing degenerates to a cartesian pairing, and the edge+degree table
    is checkpointed ONCE for all power iterations (ExistingRDD present —
    re-deriving edges per iteration would grow a full edge subtree per
    step)."""
    from onebrc_spark.operators.clustering import dedup_graph_pagerank

    df = dedup_graph_pagerank(spark, SMOKE_SF_DIR)
    txt = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in txt, txt[:3000]
    assert "partial_sum" in txt, txt[:3000]
    assert "CartesianProduct" not in txt, txt[:3000]
    assert "ExistingRDD" in txt, txt[:3000]
