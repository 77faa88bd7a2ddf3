"""Change-data-capture / incremental-maintenance operators (extension
surface; SURVEY §2.3 J3 + §2.4 applied to the Delta/Iceberg MERGE shape).

A 100 TB corpus is never rebuilt from scratch: it is maintained by merging
deltas (new crawls, re-scored documents, revoked records) into a base
snapshot. The reference engine has no notion of updates (its one workload is
a full-scan aggregate, `rust_1brc/src/main.rs:237-243`); this module adds the
canonical batch formulations:

  - MERGE (upsert): full outer join base↔delta on the key; delta wins where
    both exist (SCD type-1), base carries where no delta, delta inserts
    where no base.
  - Snapshot diff: the inverse — given two snapshots, classify every key as
    added / removed / changed / unchanged (what a data-quality gate runs
    before publishing a new corpus version).

Scale notes: both are single-shuffle joins on the key. In production the
base is bucketed on the key (storage.py's bucketed-join layout) so only the
delta shuffles; a small delta broadcast-joins and the merge becomes
narrow-per-bucket. Tombstones (deletes) ride the delta as a flag column —
same plan. AQE handles delta skew (hot keys re-crawled often).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table

# Deterministic base/delta derivation from `orders` (no synthetic inputs —
# TESTDATA tables only): base = keys with o_orderkey % 4 != 3 at their
# original price; delta = keys with o_orderkey % 2 == 0, re-priced with a
# flat +10.0 surcharge. Overlap (both) exercises UPDATE, delta-only INSERT,
# base-only CARRY. The surcharge is ADDITIVE on purpose: x + 10.0 is the
# same IEEE double in every engine, while round(x * 1.1, 2) hits half-ulp
# rounding flips between Spark (BigDecimal HALF_UP on the exact double) and
# DuckDB (multiply-round-divide in floating point) — only the final SUM is
# rounded.


def _base(orders: DataFrame) -> DataFrame:
    return orders.filter(F.col("o_orderkey") % 4 != 3).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    )


def _delta(orders: DataFrame) -> DataFrame:
    return orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 10.0).alias("price"),
    )


_MERGE_ORACLE = """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 3
    ), delta AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 AS price
      FROM orders WHERE o_orderkey % 2 = 0
    ), merged AS (
      SELECT CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                  WHEN d.o_orderkey IS NULL THEN 'carry'
                  ELSE 'update' END AS action,
             coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             coalesce(d.price, b.price) AS price
      FROM base b FULL OUTER JOIN delta d USING (o_orderkey)
    )
    SELECT action, o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS sum_price
    FROM merged GROUP BY action, o_orderstatus ORDER BY action, o_orderstatus
"""


@query(
    "cdc_merge_upsert",
    oracle=_MERGE_ORACLE,
    survey_ref="X9,J3,A6 (MERGE/upsert: SCD-1 full-outer merge of a delta)",
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a delta into a base snapshot (SCD type-1: last write wins) and
    account the result: per (action, status) row counts and price totals.
    `USING (key)` + coalesce is the whole-row upsert; the action column is
    the merge audit a production pipeline logs per run.

    Scale: one shuffle of each side on o_orderkey (bucketed base → delta
    shuffles alone; dim-sized delta → broadcast, zero base movement)."""
    orders = load_table(spark, sf_dir, "orders")
    # Side presence is detected with an explicit literal flag, NOT a payload
    # column: a base row whose price is legitimately NULL is a CARRY, not an
    # INSERT (the oracle keys on o_orderkey presence; so must we).
    b = _base(orders).withColumn("b_present", F.lit(1))
    d = _delta(orders).withColumn("d_present", F.lit(1))
    merged = b.alias("b").join(d.alias("d"), "o_orderkey", "full").select(
        F.when(F.col("b.b_present").isNull(), "insert")
        .when(F.col("d.d_present").isNull(), "carry")
        .otherwise("update")
        .alias("action"),
        F.coalesce("d.o_orderstatus", "b.o_orderstatus").alias("o_orderstatus"),
        F.coalesce("d.price", "b.price").alias("price"),
    )
    return (
        merged.groupBy("action", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(half_away_long(F.col("price") * 100))
                / F.lit(100.0)
            ).alias("sum_price"),
        )
        .orderBy("action", "o_orderstatus")
    )


_DIFF_ORACLE = """
    WITH snap_a AS (
      SELECT o_orderkey, o_totalprice AS price
      FROM orders WHERE o_orderkey % 4 <> 3
    ), snap_b AS (
      SELECT o_orderkey,
             o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                 THEN 10.0 ELSE 0.0 END AS price
      FROM orders WHERE o_orderkey % 4 <> 1
    )
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.price <> b.price THEN 'changed'
                ELSE 'unchanged' END AS verdict,
           count(*) AS n_keys,
           CAST(sum(CAST(round(coalesce(b.price, a.price) * 100) AS BIGINT))
                AS BIGINT) / 100.0 AS sum_price
    FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    GROUP BY verdict ORDER BY verdict
"""


@query(
    "cdc_snapshot_diff",
    oracle=_DIFF_ORACLE,
    survey_ref="J3 (snapshot diff: added/removed/changed/unchanged audit)",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two corpus snapshots by key: classify every key added / removed /
    changed / unchanged — the publish gate run before promoting a new corpus
    version. Same single-shuffle full-outer shape as the merge; at scale
    both snapshots share the bucketed layout so the diff is narrow."""
    orders = load_table(spark, sf_dir, "orders")
    snap_a = orders.filter(F.col("o_orderkey") % 4 != 3).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("a_present"),
    )
    snap_b = orders.filter(F.col("o_orderkey") % 4 != 1).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, 10.0).otherwise(0.0)
        ).alias("price"),
        F.lit(1).alias("b_present"),
    )
    # Same presence-flag rule as the merge: a snapshot row with a NULL price
    # still EXISTS in that snapshot (key-presence classification).
    diff = snap_a.alias("a").join(snap_b.alias("b"), "o_orderkey", "full").select(
        F.when(F.col("a.a_present").isNull(), "added")
        .when(F.col("b.b_present").isNull(), "removed")
        .when(F.col("a.price") != F.col("b.price"), "changed")
        .otherwise("unchanged")
        .alias("verdict"),
        F.coalesce("b.price", "a.price").alias("price"),
    )
    return (
        diff.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            (
                F.sum(half_away_long(F.col("price") * 100))
                / F.lit(100.0)
            ).alias("sum_price"),
        )
        .orderBy("verdict")
    )


_SCD2_ORACLE = """
    WITH ch AS (
      SELECT o_custkey, o_orderkey, o_orderdate AS ts, o_orderstatus AS status,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), changes AS (
      SELECT * FROM ch WHERE prev IS NULL OR status <> prev
    )
    SELECT o_custkey AS custkey,
           CAST(row_number() OVER (
             PARTITION BY o_custkey ORDER BY ts, o_orderkey
           ) AS BIGINT) AS version,
           status,
           CAST(ts AS DATE) AS valid_from,
           CAST(lead(ts) OVER (
             PARTITION BY o_custkey ORDER BY ts, o_orderkey
           ) AS DATE) AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (
             PARTITION BY o_custkey ORDER BY ts, o_orderkey
           ) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM changes
    ORDER BY custkey, version
"""


def scd2_from_changes(
    changes: DataFrame,
    key: str = "custkey",
    ts: str = "ts",
    seq: str = "seq",
    status: str = "status",
) -> DataFrame:
    """SCD2 core shared by the batch query and the streaming maintainer:
    (key, ts, seq, status) change records → (key, version, status,
    valid_from, valid_to, is_current) with consecutive same-status records
    collapsed. (ts, seq) must be a TOTAL order per key (registry window
    rule); valid_from/valid_to keep the change timestamp type — callers
    cast for presentation."""
    w = Window.partitionBy(key).orderBy(ts, seq)
    ch = changes.withColumn("_prev", F.lag(status).over(w))
    collapsed = ch.filter(F.col("_prev").isNull() | (F.col(status) != F.col("_prev")))
    return collapsed.select(
        F.col(key).alias("key"),
        F.row_number().over(w).cast("long").alias("version"),
        F.col(status).alias("status"),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
        F.when(F.lead(ts).over(w).isNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_current"),
    )


@query(
    "cdc_scd2_history",
    oracle=_SCD2_ORACLE,
    survey_ref="X9b,W2,J3 (SCD type-2: change stream -> validity-interval history)",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history built from a change stream:
    each customer's order-status changes (orders as the CDC feed, ordered
    by (o_orderdate, o_orderkey) — a TOTAL order, per the registry's
    window rule) collapse into versioned validity intervals
    [valid_from, valid_to) with an is_current flag. Consecutive records
    with an unchanged status are collapsed (the lag≠status filter) — the
    defining SCD2 property; cdc_merge_upsert keeps only the latest state
    (type-1), this keeps the full auditable timeline, which is what a
    training-data lineage system records for every document's
    license/quality re-evaluations.

    Scale: one shuffle on the dimension key (custkey) feeds BOTH windows
    — the change-collapse lag and the interval lead run over the same
    partitioning, so Catalyst plans one Exchange + one sort (the second
    window reuses the clustering). History size is change-cardinality,
    not event-cardinality, after the in-window collapse."""
    o = load_table(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderstatus").alias("status"),
    )
    hist = scd2_from_changes(changes)
    return hist.select(
        F.col("key").alias("custkey"),
        "version",
        "status",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "is_current",
    ).orderBy("custkey", "version")
