"""Filters, predicates, projections, sorts, limits (SURVEY §2.2, §2.6).

The reference's projection surface is the `station;temp` line parse
(`python_1brc/main.py:62-65`, `rust_1brc/src/main.rs:137-152`) — handled by
the CSV reader in sources/onebrc.py. This module is the general predicate /
sort / top-k surface (P6, O1-O3) over the testdata tables.

Scale notes: every filter here is a Catalyst predicate that pushes down to the
parquet scan (verified in tests/test_plans.py); sort+limit fuses to
TakeOrderedAndProject so top-k never performs a global sort of 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.operators.memo import checkpoint
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table


@query(
    "filter_predicates",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
           o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice BETWEEN 1000 AND 150000
      AND o_orderpriority LIKE '1-%'
      AND NOT (o_custkey < 10)
    ORDER BY o_orderkey
    """,
    survey_ref="P6",
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate surface: IN / BETWEEN / LIKE / NOT / AND."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderstatus").isin("O", "F")
            & F.col("o_totalprice").between(1000, 150000)
            & F.col("o_orderpriority").like("1-%")
            & ~(F.col("o_custkey") < 10)
        )
        .select(
            "o_orderkey",
            "o_custkey",
            # grid-safe (rulebook r13b): 2-dp o_totalprice — identity
            F.round("o_totalprice", 2).alias("total"),
            "o_orderstatus",
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


@query(
    "filter_null_semantics",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT count(*) AS n_total,
           count(value) AS n_value,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM v
    """,
    survey_ref="P4,P6",
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling parity (the P4 empty-line filter generalized). The
    fixture has no NULL values, which made count(col) == count(*) and
    n_null a constant 0 — a vacuous green (round-5 non-vacuity sweep); a
    deterministic ~9% of rows are nulled in-query on BOTH sides so the
    count(col)-skips-NULLs contract is actually exercised."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.when(F.col("event_id") % 11 == 0, None).otherwise(F.col("value")).alias(
            "value"
        )
    )
    return v.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("value").alias("n_value"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null"),
    )


@query(
    "sort_multi_key",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS acctbal
    FROM customer
    ORDER BY c_mktsegment DESC, acctbal DESC, c_custkey
    """,
    survey_ref="O2",
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key / mixed-direction global sort (O2). The flagship's
    single-key ascending sort (O1) is covered by onebrc_flagship."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        # grid-safe (rulebook r13b): 2-dp c_acctbal — identity
        "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 2).alias("acctbal")
    ).orderBy(F.desc("c_mktsegment"), F.desc("acctbal"), F.asc("c_custkey"))


@query(
    "topk_limit",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY total DESC, o_orderkey
    LIMIT 25
    """,
    survey_ref="O3",
)
def topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit fuses to TakeOrderedAndProject — per
    partition a bounded heap, then a k-row merge on the driver; no global
    sort at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        # grid-safe (rulebook r13b): 2-dp o_totalprice — identity
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.desc("total"), F.asc("o_orderkey"))
        .limit(25)
    )


@query(
    "project_prune",
    oracle="""
    SELECT l_orderkey, round(l_extendedprice * (1 - l_discount), 4) AS net
    FROM lineitem
    WHERE l_returnflag = 'R'
    ORDER BY l_orderkey, net
    """,
    survey_ref="P1,P6",
)
def project_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-column projection of an 11-column table — exercises column pruning
    down to the parquet ReadSchema (asserted in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            # grid-safe (rulebook r13b): 2-dp × 2-dp product on the 1e-4 grid — round(·,4) identity
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net"),
        )
        .orderBy("l_orderkey", "net")
    )


@query(
    "dq_constraint_audit",
    oracle="""
    WITH li AS (
      SELECT l_orderkey + CASE WHEN l_orderkey % 983 = 0 AND l_linenumber = 1
                               THEN 1000000000 ELSE 0 END AS l_orderkey,
             CASE WHEN l_orderkey % 997 = 0 AND l_linenumber = 1
                  THEN -l_extendedprice ELSE l_extendedprice END AS l_extendedprice,
             CASE WHEN l_orderkey % 991 = 0 AND l_linenumber = 1
                  THEN 0.5 ELSE l_discount END AS l_discount
      FROM lineitem
    ), o AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 977 = 0 THEN NULL ELSE o_custkey END
               AS o_custkey
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 971 = 0
    )
    SELECT 'lineitem_negative_price' AS constraint_name,
           CAST((SELECT count(*) FROM li WHERE l_extendedprice < 0) AS BIGINT)
             AS n_violations
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST((SELECT count(*) FROM li
                 WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT count(*) FROM li l
                 WHERE NOT EXISTS (SELECT 1 FROM o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_null_custkey',
           CAST((SELECT count(*) FROM o WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST((SELECT count(*) FROM (
              SELECT o_orderkey FROM o GROUP BY o_orderkey HAVING count(*) > 1
           )) AS BIGINT)
    ORDER BY constraint_name
    """,
    survey_ref="P6,J4,A6 (data-quality gate: range/null/FK/PK constraint audit)",
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: one row per declared constraint with its
    violation count — range checks, null checks, FK orphans (anti-join),
    PK uniqueness — the audit a pipeline runs before publishing a corpus
    snapshot (cdc.py's diff is the content gate; this is the schema gate).

    Scale: range/null checks are narrow scan aggregates and share ONE pass
    per table (conditional sums, not N scans); the FK orphan check is a
    LEFT ANTI join that broadcasts the key side when dim-sized; PK
    uniqueness is a keyed count. All violation counts, not violating rows —
    the report stays scalar no matter how dirty the data.

    Non-vacuity (round-5 sweep): the raw fixture is CLEAN — every count
    was a 0=0 green that would also pass with inverted predicates or
    wrong join keys. The audit therefore runs against a SEEDED-FAULT twin
    of the tables (deterministic in-query corruption: a negated price, an
    out-of-range discount, remapped orphan keys, nulled custkeys, and
    duplicated PK rows on small disjoint slices), so every detector
    provably fires with a nonzero count the oracle reproduces exactly.
    Production points the same audit at the raw tables."""
    li0 = load_table(spark, sf_dir, "lineitem")
    orders0 = load_table(spark, sf_dir, "orders")
    li = li0.select(
        (
            F.col("l_orderkey")
            + F.when(
                (F.col("l_orderkey") % 983 == 0) & (F.col("l_linenumber") == 1),
                1000000000,
            ).otherwise(0)
        ).alias("l_orderkey"),
        F.when(
            (F.col("l_orderkey") % 997 == 0) & (F.col("l_linenumber") == 1),
            -F.col("l_extendedprice"),
        )
        .otherwise(F.col("l_extendedprice"))
        .alias("l_extendedprice"),
        F.when(
            (F.col("l_orderkey") % 991 == 0) & (F.col("l_linenumber") == 1), 0.5
        )
        .otherwise(F.col("l_discount"))
        .alias("l_discount"),
    )
    orders = orders0.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 977 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    ).unionByName(
        orders0.filter(F.col("o_orderkey") % 971 == 0).select(
            "o_orderkey", "o_custkey"
        )
    )

    # coalesce: SUM over an EMPTY table is NULL in both engines, but the
    # oracle counts with count(*) (0) — an empty-partition-day audit must
    # report zero violations, not NULL
    li_audit = li.agg(
        F.coalesce(F.sum(F.when(F.col("l_extendedprice") < 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("lineitem_negative_price"),
        F.coalesce(
            F.sum(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("lineitem_discount_range"),
    )
    orphans = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("n").alias("lineitem_orphan_orderkey"))
    )
    o_audit = orders.agg(
        F.coalesce(F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("orders_null_custkey"),
    )
    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("orders_duplicate_pk"))
    )
    wide = li_audit.crossJoin(orphans).crossJoin(o_audit).crossJoin(dup_pk)
    stacked = wide.selectExpr(
        "stack(5, "
        "'lineitem_negative_price', lineitem_negative_price, "
        "'lineitem_discount_range', lineitem_discount_range, "
        "'lineitem_orphan_orderkey', lineitem_orphan_orderkey, "
        "'orders_null_custkey', orders_null_custkey, "
        "'orders_duplicate_pk', orders_duplicate_pk"
        ") AS (constraint_name, n_violations)"
    )
    return stacked.orderBy("constraint_name")


@query(
    "dq_observe_metrics",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN event_id % 13 = 0 THEN NULL
                  WHEN event_id % 17 = 0 THEN -value
                  ELSE value END AS value
      FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_value,
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM v
    """,
    survey_ref="P6,A3-A6 (observe()/Observation: in-flight pipeline metrics)",
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.observe()` + Observation: data-quality counters collected as a
    side effect of a pass the pipeline was already making — the metrics
    piggyback the action via AggregatingAccumulators, so there is NO second
    scan (contrast dq_constraint_audit, which is its own aggregate job).
    This is how a 100 TB ingest job reports row counts / null rates to its
    monitoring without doubling I/O. The observed values are re-emitted as
    a single-row DataFrame so the driver can hash-check them against the
    oracle's explicit aggregation."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    # seeded nulls/negatives (round-5 non-vacuity sweep): the raw fixture
    # has neither, so two of the five observed metrics were constant 0 and
    # a miswired condition would still hash-match
    ev = ev.select(
        F.when(F.col("event_id") % 13 == 0, None)
        .when(F.col("event_id") % 17 == 0, -F.col("value"))
        .otherwise(F.col("value"))
        .alias("value")
    )
    obs = Observation("dq_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_value"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
        # grid-safe (rulebook r13b): min/max of 2-dp value — identity at 4 dp
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )
    # The "real work" action the metrics ride on (here: a count; in prod:
    # the write). obs.get blocks until the action finishes.
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_value"],
                m["n_negative"],
                m["min_value"],
                m["max_value"],
            )
        ],
        "n_rows long, n_null_value long, n_negative long, "
        "min_value double, max_value double",
    )


# --- DQ: per-column profiling ------------------------------------------------

# (column, null-safe min/max renderers). Doubles render through
# DECIMAL(14,2) (both engines round the same double to the same decimal and
# print it identically); timestamps through DATE (registry rule: no raw
# timestamp columns cross the driver boundary).
_PROFILE_COLS = [
    ("o_orderkey", "CAST({c} AS STRING)", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "{c}", "{c}"),
    (
        "o_totalprice",
        "CAST(CAST({c} AS DECIMAL(14,2)) AS STRING)",
        "CAST(CAST({c} AS DECIMAL(14,2)) AS VARCHAR)",
    ),
    (
        "o_orderdate",
        "CAST(CAST({c} AS DATE) AS STRING)",
        "CAST(CAST({c} AS DATE) AS VARCHAR)",
    ),
    ("o_orderpriority", "{c}", "{c}"),
]


def _profile_oracle() -> str:
    selects = []
    for col, _, duck in _PROFILE_COLS:
        mn = duck.format(c=f"min({col})")
        mx = duck.format(c=f"max({col})")
        selects.append(
            f"SELECT '{col}' AS column_name,"
            f" CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,"
            f" CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_value, {mx} AS max_value FROM orders"
        )
    return " UNION ALL ".join(selects) + " ORDER BY column_name"


@query(
    "dq_column_profile",
    oracle=_profile_oracle(),
    survey_ref="dq (per-column profiling: rows/nulls/distinct/min/max)",
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of a table — row count, null count, exact
    distinct count, min and max rendered type-appropriately — the first
    query every pipeline runs against an unfamiliar 100 TB estate, and
    the input to partition-layout and encoding decisions.

    Scale: ONE pass over the table computes every column's stats in a
    single aggregation (count/min/max are algebraic; the distinct counts
    are the only state-heavy part — swap count_distinct for
    approx_count_distinct at estate scale, same plan shape); the wide
    single-row result is then unpivoted driver-free with stack(). No
    per-column rescans — profiling N columns costs one scan, not N."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, spark_fmt, _ in _PROFILE_COLS:
        aggs.append(F.count(col).alias(f"cnt_{col}"))
        aggs.append(F.countDistinct(col).alias(f"nd_{col}"))
        aggs.append(F.expr(spark_fmt.format(c=f"min({col})")).alias(f"mn_{col}"))
        aggs.append(F.expr(spark_fmt.format(c=f"max({col})")).alias(f"mx_{col}"))
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', n_rows - cnt_{col}, nd_{col}, mn_{col}, mx_{col}"
        for col, _, _ in _PROFILE_COLS
    )
    return (
        wide.selectExpr(
            "n_rows",
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)",
        )
        .select(
            "column_name",
            F.col("n_rows").cast("long"),
            F.col("n_nulls").cast("long"),
            F.col("n_distinct").cast("long"),
            "min_value",
            "max_value",
        )
        .orderBy("column_name")
    )


# --- DQ: distribution drift between ingest snapshots -------------------------

_DRIFT_BUCKETS = 16


@query(
    "dq_snapshot_drift",
    oracle=f"""
    WITH base AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(month(o_orderdate) % 2 AS BIGINT) AS snap
      FROM orders
    ), bounds AS (
      SELECT min(cents) AS mn, max(cents) AS mx FROM base
    ), bucketed AS (
      SELECT ((cents - mn) * {_DRIFT_BUCKETS}) // (mx - mn + 1) AS bucket, snap
      FROM base, bounds
    ), per AS (
      SELECT bucket,
             CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      FROM bucketed GROUP BY bucket
    ), tot AS (
      SELECT CAST(sum(cnt_a) AS BIGINT) AS na, CAST(sum(cnt_b) AS BIGINT) AS nb
      FROM per
    ), rated AS (
      SELECT p.bucket, p.cnt_a, p.cnt_b,
             p.cnt_a * 1000000 // greatest(t.na, 1) AS rate_a_ppm,
             p.cnt_b * 1000000 // greatest(t.nb, 1) AS rate_b_ppm
      FROM per p, tot t
    )
    SELECT bucket, cnt_a, cnt_b, rate_a_ppm, rate_b_ppm,
           abs(rate_a_ppm - rate_b_ppm) AS bucket_drift_ppm,
           CAST((SELECT sum(abs(rate_a_ppm - rate_b_ppm)) FROM rated) // 2
                AS BIGINT) AS tvd_ppm_floor
    FROM rated ORDER BY bucket
    """,
    survey_ref="DQ2 (snapshot drift: equi-width histogram TVD between ingests)",
)
def dq_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two ingest snapshots — the monitoring
    query a 100 TB pipeline runs on every delivery to catch upstream
    schema-preserving value drift (price re-scaling, silent unit changes,
    a source going stale) before it poisons training mixes. Snapshots here
    are the month-parity halves of `orders` (any ≥2-month corpus populates
    both; a degenerate single-month delivery yields one empty side and the
    GREATEST(total,1) guard keeps the arithmetic defined rather than
    failing the whole audit).

    Mechanism: o_totalprice → exact integer cents → {_DRIFT_BUCKETS}
    equi-width buckets over the global [min, max] (integer arithmetic:
    ((cents-mn)*B) div (mx-mn+1) lands in [0, B) with no boundary or
    float-rounding ambiguity), then per-bucket per-snapshot counts and
    per-million rates. The headline stat is the total-variation distance
    floor in ppm: Σ|rate_a − rate_b| div 2. All integer ops — both engines
    compute bit-identical results at any scale (rates ≤ 1e6 so the ×1e6
    products hold to ~9e12 rows/snapshot; past that, stage the division
    per the text_cooccurrence_lift docstring).

    Scale: ONE scan computes both snapshots' histograms (the snapshot tag
    is a per-row expression, not two reads); the only shuffle is the
    {_DRIFT_BUCKETS}-key bucket aggregation with map-side partials, and the
    global min/max pre-pass is an algebraic aggregate that parquet footer
    stats can serve scan-free on a sorted estate. The rate/TVD windows run
    over {_DRIFT_BUCKETS} rows — driver-free and constant-size regardless
    of corpus scale.

    Reference parity: the reference has no multi-snapshot or DQ surface at
    all (its one query is per-key min/mean/max, rust_1brc/src/main.rs:237);
    extension surface for the curation pipeline."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        half_away_long(F.col("o_totalprice") * 100).alias("cents"),
        (F.month("o_orderdate") % 2).cast("long").alias("snap"),
    )
    bounds = base.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    per = (
        base.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"(cents - mn) * {_DRIFT_BUCKETS} div (mx - mn + 1)"
            ).alias("bucket"),
            "snap",
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
            .cast("long")
            .alias("cnt_a"),
            F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
            .cast("long")
            .alias("cnt_b"),
        )
    )
    rated = per.select(
        "bucket",
        "cnt_a",
        "cnt_b",
        F.expr("cnt_a * 1000000 div greatest(sum(cnt_a) over (), 1)").alias(
            "rate_a_ppm"
        ),
        F.expr("cnt_b * 1000000 div greatest(sum(cnt_b) over (), 1)").alias(
            "rate_b_ppm"
        ),
    )
    return (
        rated.withColumn(
            "bucket_drift_ppm", F.abs(F.col("rate_a_ppm") - F.col("rate_b_ppm"))
        )
        .withColumn(
            "tvd_ppm_floor",
            F.expr("sum(bucket_drift_ppm) over () div 2"),
        )
        .orderBy("bucket")
    )


# --- O4 (extension): global dense ids without the single-partition trap ------

_GID_PARTITIONS = 8


def global_row_number(
    spark: SparkSession,
    df: DataFrame,
    order: list,
    num_partitions: int = _GID_PARTITIONS,
    col_name: str = "global_rank",
) -> DataFrame:
    """df + a globally dense 1-based rank column over `order`, computed in
    the scale-safe two-phase form (range-partition → per-partition counts →
    broadcast offsets → within-partition row_number) — see
    sort_global_dense_ids' docstring for the full determinism analysis
    (the localCheckpoint pins ONE range placement for both the count and
    rank jobs; RangePartitioner's sample seed changes per job otherwise).
    `order` must be a total order or ranks are placement-dependent."""
    # LAZY checkpoint (r14): the counts collect below is the first action
    # over `t` and materializes it in the same job — the old eager form
    # paid a separate materialization action per call. Both the counts job
    # and the rank query read the SAME pinned blocks, so the one-placement
    # determinism contract is unchanged (see sort_global_dense_ids).
    ranged = df.repartitionByRange(num_partitions, *order)
    t = checkpoint(ranged.withColumn("_gid_pid", F.spark_partition_id()), eager=False)
    counts = sorted(
        t.groupBy("_gid_pid").count().collect(), key=lambda r: r["_gid_pid"]
    )
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r["_gid_pid"], acc))
        acc += r["count"]
    # Offsets as a VALUES literal → LocalRelation (r14): createDataFrame on
    # the ≤num_partitions tuples went through the pickled
    # applySchemaToPythonRDD path — an RDD-backed plan whose broadcast
    # build launches tasks; the literal is analyzed driver-side and
    # broadcast-built with no job at all. (The collect itself stays: ≤P
    # count rows is the k-means-model class of driver action, never data.)
    if offsets:
        vals = ", ".join(f"({pid}, {off}L)" for pid, off in offsets)
        off_df = spark.sql(
            f"SELECT * FROM VALUES {vals} AS t(_gid_pid, _gid_off)"
        )
    else:
        off_df = spark.createDataFrame([], "_gid_pid INT, _gid_off LONG")
    w = Window.partitionBy("_gid_pid").orderBy(*order)
    return (
        t.join(F.broadcast(off_df), "_gid_pid")
        .withColumn(
            col_name,
            (F.row_number().over(w) + F.col("_gid_off")).cast("long"),
        )
        .drop("_gid_pid", "_gid_off")
    )


@query(
    "sort_global_dense_ids",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                AS BIGINT) AS global_id,
           doc_id, n_chars
    FROM documents ORDER BY global_id
    """,
    survey_ref="O4,O2 (global dense rank, two-phase offsets)",
)
def sort_global_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally dense, order-defined row ids (1..N by (n_chars DESC,
    doc_id)) — the operator Spark famously lacks a scale-safe built-in
    for: `row_number() OVER (ORDER BY ...)` with no PARTITION BY moves the
    ENTIRE dataset to one partition (Spark itself logs the WindowExec
    warning), and `monotonically_increasing_id` is neither dense nor
    order-defined.

    Scale-correct two-phase form, DataFrame-only:
      1. `repartitionByRange` on the id order — partition i holds a
         contiguous key range below partition i+1's (this is a sort's
         shuffle WITHOUT a final merge);
      2. per-partition row counts → driver prefix-sum → broadcast offset
         table (≤ P rows collected — the k-means-model class of driver
         action, never data);
      3. within-partition row_number (each window partition = one range
         partition) + offset = the global dense id.

    Determinism hazard, and its fix: RangePartitioner's boundary sample is
    seeded by the RDD id, which CHANGES per job — so running the count
    action and the id query as two independent jobs can place boundary
    rows differently and corrupt the offsets (reproduced live at sf0.1:
    ids off by ±14 around a boundary; invisible at sf0.01 where the
    sample saw every row). The localCheckpoint pins ONE materialized
    shuffle output that both the counts and the ids read — placements
    identical by construction, and the input is scanned once instead of
    twice. The key (n_chars DESC, doc_id) is unique per row, so ids are
    unique and reproducible — and the DuckDB oracle's naive global
    row_number must agree exactly, which is the whole point: same
    semantics, minus the single-partition bottleneck. At 100 TB this is
    how training-example ids / shard manifests get stamped."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    order = [F.desc("n_chars"), F.asc("doc_id")]
    return (
        global_row_number(spark, d, order, col_name="global_id")
        .select("global_id", "doc_id", "n_chars")
        .orderBy("global_id")
    )

@query(
    "dq_k_anonymity",
    oracle="""
    WITH tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents
    ), g AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang, source
    ), k AS (
      SELECT greatest(n_total // 100, 5) AS k FROM tot
    )
    SELECT CASE WHEN n_docs >= k THEN lang ELSE '<other>' END AS lang,
           CASE WHEN n_docs >= k THEN source ELSE '<other>' END AS source,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM g, k
    GROUP BY 1, 2 ORDER BY lang, source
    """,
    survey_ref="DQ4 (minimum-cell-size suppression: k-anonymous release census)",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cell-size suppression — the publication guard every corpus
    release applies before shipping per-group statistics: a (lang, source)
    cell smaller than k identifies its members, so small cells collapse
    into one '<other>' row (their counts still published in aggregate,
    their identities suppressed). k is relative — max(1% of the release,
    5) — the standard minimum-cell-size-as-fraction rule, and exact
    integer on both engines (// and greatest), so the suppression set is
    deterministic at every scale.

    Shape: one groupBy on the cell key carrying (count, sum) longs, a
    one-row total broadcast (the k threshold), and a re-aggregation of
    the suppressed cells — group-cardinality-sized inputs everywhere
    after the first aggregate; the text never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    k = F.greatest(F.expr("n_total div 100"), F.lit(5))
    publish = F.col("n_docs") >= k
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.when(publish, F.col("lang")).otherwise("<other>").alias("lang"),
            F.when(publish, F.col("source")).otherwise("<other>").alias("source"),
            "n_docs",
            "sum_chars",
        )
        .groupBy("lang", "source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_chars").cast("long").alias("sum_chars"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
        .orderBy("lang", "source")
    )

