"""Skew-handling operators: salted aggregation and salted join (SURVEY §4,
"AQE skew-join handling" row — here made explicit as library rewrites).

The reference's data is uniform (413 stations drawn uniformly,
`generate.rs:31-33`), so it never faces skew; a 100 TB corpus always does
(one hot user, one hot key). AQE's skew-join splitting handles the join
case at runtime; these operators are the MANUAL rewrites for when the skew
is in an aggregation (AQE does not split skewed agg groups) or when the
planner must be forced:

  - salted two-phase aggregation: groupBy(key, salt) partial → groupBy(key)
    final. The hot key's rows spread over S reducers in phase 1; phase 2
    combines S small partials. Exactly the reference's partial/final
    decomposition (SURVEY §2.4 A1/A2) with a synthetic extra key.
  - salted replicated join: the dim side is replicated S times (one copy
    per salt), the fact side computes a deterministic salt from a uniform
    column; the join key becomes (key, salt) so one hot key's probe rows
    land on S tasks instead of 1.

Both are verified against unsalted oracles — salting must be semantically
invisible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table

_SALTS = 16


@query(
    "agg_salted_twophase",
    oracle="""
    SELECT l_returnflag,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    survey_ref="A1,A2 (salted two-phase aggregation for skewed groups)",
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-value group key (the skew
    extreme: each group is ~1/3 of the table).

    Phase 1 groups by (l_returnflag, salt=xxhash64(l_orderkey) mod 16) so
    each giant group becomes 16 partial states computed on 16 different
    reducers; phase 2 merges the 16 partials per key. SUM/COUNT re-combine
    losslessly (decomposable aggregates, SURVEY §2.4); the oracle is the
    plain one-phase GROUP BY — identical results required.
    """
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(_SALTS)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("p_qty"),
        F.sum(
            half_away_long(F.col("l_extendedprice") * 100)
            * (100 - half_away_long(F.col("l_discount") * 100))
        ).alias("p_rev"),
        F.count(F.lit(1)).alias("p_n"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("p_qty").alias("sum_qty"),
            (F.sum("p_rev") / F.lit(10000.0)).alias("revenue"),
            F.sum("p_n").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    survey_ref="J1 (salted replicated join for skewed keys)",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join: customer replicated ×16 (one row per salt),
    orders salted deterministically by xxhash64(o_orderkey) mod 16; join on
    (custkey, salt).

    If one customer owned half of all orders, a plain shuffle join would
    put half the fact table on one task; salting spreads it over 16. The
    cost — the dim side is written 16× into the shuffle — is the classic
    trade, which is why this is a library operator and not the default
    (AQE's skew splitter covers the common case for free). Oracle: the
    unsalted join.
    """
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALTS))
    )
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(_SALTS)]))
    )
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum(half_away_long(F.col("o_totalprice") * 100))
                / F.lit(100.0)
            ).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


_SKEW_TOPK = 10


def _skew_family_sql(family: str, table: str, key: str) -> str:
    return f"""
    SELECT '{family}' AS key_family,
           CAST(row_number() OVER (ORDER BY cnt DESC, key NULLS FIRST)
             AS BIGINT) AS rank,
           key, cnt,
           s.n_keys, s.n_rows,
           CAST(cnt * s.n_keys * 1000000 // s.n_rows AS BIGINT) AS load_ppm
    FROM (
      SELECT {key} AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM {table} GROUP BY {key}
    ) c, (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows
      FROM (SELECT count(*) AS cnt FROM {table} GROUP BY {key})
    ) s
    ORDER BY cnt DESC, key NULLS FIRST LIMIT {_SKEW_TOPK}
    """


@query(
    "dq_key_skew_profile",
    oracle=(
        "SELECT * FROM ("
        + _skew_family_sql("lineitem.l_orderkey", "lineitem", "l_orderkey")
        + ") UNION ALL SELECT * FROM ("
        + _skew_family_sql("orders.o_custkey", "orders", "o_custkey")
        + ") ORDER BY key_family, rank"
    ),
    survey_ref="DQ3,J1 (join-key skew census: the pre-join salting/AQE decision input)",
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census — the diagnostic a 100 TB pipeline runs BEFORE
    a big shuffle join to decide between a plain hash join, AQE skew
    splitting, and explicit salting (join_salted_skew): for each key
    family, the top-K heaviest keys with their exact load factor in ppm
    (cnt · n_keys · 1e6 div n_rows — 1,000,000 = a perfectly uniform key;
    integer arithmetic, engine-stable). A load_ppm in the tens of millions
    on a fact-fact join key is the signature of a task that will straggle
    or spill; this query prices that risk for one aggregation per family.

    Scale: per family, one map-side-combined groupBy on the join key (the
    same shuffle the real join would pay, but carrying only (key, count)
    longs), a TakeOrdered top-K (no global sort), and a one-row census
    broadcast onto the K rows. Numerator headroom: cnt·n_keys ≤ n_rows·
    n_keys — stage the division (ml_temperature_mix's remainder-carry
    idiom) past ~3e9 rows·keys; at this corpus's scale the direct product
    is exact."""
    frames = []
    for family, table, key in (
        ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
    ):
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(key).alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        summary = counts.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("cnt").cast("long").alias("n_rows"),
        )
        top = (
            counts.orderBy(F.desc("cnt"), "key")
            .limit(_SKEW_TOPK)
            .crossJoin(F.broadcast(summary))
        )
        from pyspark.sql.window import Window

        frames.append(
            top.select(
                F.lit(family).alias("key_family"),
                F.row_number()
                .over(Window.orderBy(F.desc("cnt"), "key"))
                .cast("long")
                .alias("rank"),
                "key",
                "cnt",
                "n_keys",
                "n_rows",
                F.expr("CAST(cnt * n_keys * 1000000 div n_rows AS BIGINT)").alias(
                    "load_ppm"
                ),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("key_family", "rank")
