"""Window functions (SURVEY §2.5 W1-W4).

Not present in the reference (single aggregate query); declared extension
surface over `events`/`lineitem`/`orders`.

Scale notes: a window = one shuffle on partitionBy keys + an in-partition
sort. Key rules applied here: (a) partition keys with enough cardinality that
no single partition explodes (user_id, suppkey — never an empty
partitionBy, which funnels 100 TB through one task); (b) running frames are
rowsBetween (incremental accumulation) not re-scans; (c) top-N-per-group
filters on row_number immediately so nothing downstream carries the full
partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table


@query(
    "window_ranking",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, rn
    """,
    survey_ref="W1",
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile over one window spec (one
    shuffle+sort serves all four)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_custkey", "rn")
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           lag(event_id)  OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) AS BIGINT)
             AS gap_seconds
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
    survey_ref="W2",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics + inter-event gap (the sessionization primitive)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.lag("event_id").over(w).alias("prev_event"),
            F.lead("event_id").over(w).alias("next_event"),
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
                "gap_seconds"
            ),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "window_running_frames",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER (PARTITION BY l_suppkey
                 ORDER BY l_shipdate NULLS FIRST, l_orderkey, l_linenumber,
                          l_quantity NULLS FIRST, l_extendedprice NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_qty,
           (CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   OVER (PARTITION BY l_suppkey
                         ORDER BY l_shipdate NULLS FIRST, l_orderkey,
                                  l_linenumber, l_quantity NULLS FIRST,
                                  l_extendedprice NULLS FIRST
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST(count(*) OVER (PARTITION BY l_suppkey
                         ORDER BY l_shipdate NULLS FIRST, l_orderkey,
                                  l_linenumber, l_quantity NULLS FIRST,
                                  l_extendedprice NULLS FIRST
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE))
            / 100.0 AS moving_avg_price
    FROM lineitem
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
    survey_ref="W3",
)
def window_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec aggregates: running sum + 5-row moving average.

    The moving average runs on exact cent BIGINTs (l_extendedprice is a
    2-dp grid), then divides once — round(avg(double)) hit a 4-dp
    round-half boundary at sf0.1 where Spark's running-frame accumulation
    and DuckDB's segment-tree window summation associate differently.
    running_qty needs no such care: l_quantity values are whole numbers,
    so its double sum is exact at any frame length."""
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data — the
    # value columns join the sort key so the running order is total wrt the
    # aggregated values (sf0.1 has a full-key duplicate with differing
    # quantity, which made prefix sums order-dependent). The nullable sort
    # keys carry NULLS FIRST in the oracle: Spark ASC defaults to NULLS
    # FIRST, DuckDB to NULLS LAST, and a ROWS frame makes that placement
    # observable in every prefix sum.
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    frame = w.rowsBetween(-4, 0)
    cents = half_away_long(F.col("l_extendedprice") * 100)
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            # grid-safe (rulebook r13b): integer-quantity running sum exact — identity
            F.round(
                F.sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
            ).alias("running_qty"),
            (
                (
                    F.sum(cents).over(frame).cast("double")
                    / F.count(F.lit(1)).over(frame).cast("double")
                )
                / 100.0
            ).alias("moving_avg_price"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


@query(
    "window_topn_per_group",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    )
    SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal, rn
    FROM ranked WHERE rn <= 3
    ORDER BY c_mktsegment, rn
    """,
    survey_ref="W4",
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per market segment (W1 + filter). AQE/
    WindowGroupLimit pushes the rn<=3 limit into the window sort."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            # grid-safe (rulebook r13b): 2-dp c_acctbal — identity
            F.round("c_acctbal", 2).alias("acctbal"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    )


@query(
    "window_distribution",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_custkey
    """,
    survey_ref="W1 (distribution ranks)",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist: a customer's balance percentile within its
    market segment — the windowed form of quantile normalization (feature
    scaling over 100 TB without collecting per-group distributions)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            # unrounded: (rank-1)/(n-1) and k/n are single divisions of
            # exact integers — the identical double in both engines; a 6-dp
            # round re-created the print-boundary divergence for segment
            # sizes with non-dyadic n-1 (registry rule)
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT user_id, event_id,
           first_value(event_id) OVER w AS first_ev,
           last_value(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ev,
           nth_value(event_id, 2) OVER w AS second_ev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
    survey_ref="W2 (first/last/nth value)",
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value per user session stream.

    last_value needs the explicit UNBOUNDED FOLLOWING frame on BOTH engines
    — the default frame ends at CURRENT ROW, silently returning the current
    row's value; this is the classic window-frame trap, pinned here by the
    oracle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.first("event_id").over(w).alias("first_ev"),
            F.last("event_id").over(w_full).alias("last_ev"),
            F.nth_value("event_id", 2).over(w).alias("second_ev"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS BIGINT) / 100.0 AS spend_30d
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    survey_ref="W3 (value-range frame: RANGE BETWEEN over event time)",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day spend per customer via a RANGE frame — the frame is
    bounded by ORDER-BY *value* distance (days), not row count, so multiple
    same-day orders all enter each other's frames and sparse gaps shrink
    the window. This is the rolling-metric shape (trailing revenue, rate
    limiting, fraud velocity) that rowsBetween cannot express when events
    are irregularly spaced. One shuffle on the partition key; frame
    evaluation is a per-partition sorted sweep."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            (
                F.sum(half_away_long(F.col("o_totalprice") * 100)).over(w)
                / F.lit(100.0)
            ).alias("spend_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )
