"""Array higher-order functions and JSON access (SURVEY §2.8 F9-F10).

Exercised over `embeddings.embedding` (array<float>) and `events.props`
(JSON-encoded string). Higher-order functions (transform/aggregate/zip_with)
run inside codegen on the JVM — this is the fast path that makes the
similarity operators (operators/similarity.py) viable without Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.schemas import EVENT_PROPS
from onebrc_spark.sources.catalog import load_table


def _fq(c, scale: float):
    """Floor-quantizer floor(x·scale + 0.5)/scale — the engine-deterministic
    replacement for round(x, d) on off-grid doubles (r12 boundary find; see
    similarity.cos_round6 / dedup.jac_round4 for the full derivation). The
    embeddings' float32-sourced values are off-grid, so round()'s
    decimal-view-vs-binary tie divergence is reachable here in principle."""
    return F.floor(c * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


@query(
    "fn_array_basics",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS first_val,
           floor(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 'sum') * 10000 + 0.5) / 10000 AS vec_sum,
           floor(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 'max') * 1000000 + 0.5) / 1000000 AS vec_max,
           CASE WHEN list_contains([label, label + 1], 3) THEN 1 ELSE 0 END
             AS has_label
    FROM embeddings ORDER BY vec_id
    """,
    survey_ref="F9",
)
def fn_array_basics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / element access / aggregate / array_contains over array<float>.

    Sums accumulate in DOUBLE on both engines (floats cast up before adding)
    so the quantized values hash-match. r13 round() sweep: the output
    quantization uses the floor form (_fq) — float32-sourced doubles are
    off-grid, so round(x, d)'s decimal-view/binary tie divergence (r12
    boundary find, see dedup.jac_round4) is reachable in principle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        _fq(F.element_at("embedding", 1).cast("double"), 1e6).alias("first_val"),
        _fq(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 1e4).alias(
            "vec_sum"
        ),
        _fq(F.array_max(dbl), 1e6).alias("vec_max"),
        # membership against a FIXED probe (3): true only for labels 2 and
        # 3 — the prior form array_contains([label, label+1], label) was a
        # tautology that could never fail (round-5 non-vacuity sweep)
        F.when(
            F.array_contains(F.array(F.col("label"), F.col("label") + 1), F.lit(3)),
            1,
        )
        .otherwise(0)
        .alias("has_label"),
    ).orderBy("vec_id")


@query(
    "fn_array_higher_order",
    oracle="""
    SELECT vec_id,
           floor(list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')
                 * 10000 + 0.5) / 10000 AS sq_sum,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           floor(CAST(list_sort(embedding)[1] AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS smallest
    FROM embeddings ORDER BY vec_id
    """,
    survey_ref="F9",
)
def fn_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform / filter / sort_array higher-order surface.

    Both engines cast each float element to DOUBLE before squaring/summing
    (identical sequential accumulation order over the 64-element list) so the
    quantized sums match exactly; floor-quantized, not round()-ed — see
    fn_array_basics.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double"))
    return e.select(
        "vec_id",
        _fq(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x), 1e4).alias("sq_sum"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
        _fq(F.element_at(F.sort_array("embedding"), 1).cast("double"), 1e6).alias(
            "smallest"
        ),
    ).orderBy("vec_id")


# Lenient props for DuckDB oracles: NULL for malformed/empty JSON, matching
# Spark's from_json/get_json_object/try_parse_json (see fn_json's comment).
_PROPS_JSON = "CASE WHEN json_valid(props) THEN props END"


@query(
    "fn_json",
    # _PROPS_JSON (not bare props): Spark's JSON accessors are lenient —
    # NULL on malformed/empty input — but DuckDB's json_extract ERRORS the
    # whole query on the first bad document (edge-fixture class: a crawl's
    # props column always contains garbage rows). json_valid-guarding the
    # oracle pins the production semantics: bad JSON → NULL, never a job
    # kill. Same guard in every props-JSON oracle below.
    oracle=f"""
    SELECT event_id,
           CAST(json_extract({_PROPS_JSON}, '$.k') AS BIGINT) AS k_val,
           json_extract_string({_PROPS_JSON}, '$.k') AS k_str
    FROM events ORDER BY event_id
    """,
    survey_ref="F10",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON access over events.props: typed from_json + string get_json_object."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", EVENT_PROPS))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_val"),
        F.get_json_object("props", "$.k").alias("k_str"),
    ).orderBy("event_id")


@query(
    "fn_date_scaffold",
    oracle="""
    WITH months AS (
      SELECT unnest(generate_series(DATE '2000-01-01', DATE '2002-06-01',
                                    INTERVAL 1 MONTH)) AS month_start
    )
    SELECT CAST(m.month_start AS DATE) AS month_start,
           count(o.o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                AS BIGINT) / 1e2 AS revenue
    FROM months m
    LEFT JOIN orders o
      ON date_trunc('month', CAST(o.o_orderdate AS DATE)) = m.month_start
    GROUP BY m.month_start ORDER BY m.month_start
    """,
    survey_ref="F9/F6 (sequence+explode: calendar scaffold with gap-preserving join)",
)
def fn_date_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date dimension: sequence() builds a month series row-free,
    explode() lands one row per month, and a LEFT join onto facts keeps
    empty months as zero rows — the gap-preserving time-series shape that a
    plain GROUP BY month silently drops. The scaffold side is tiny and
    broadcast; the fact side aggregates after a month-truncate map.

    The window (2000-01 .. 2002-06) deliberately overruns the order
    history (ends 2001-08), so ~10 scaffold months have ZERO orders —
    round 5's non-vacuity sweep found the old 1995-96 window fully
    populated, meaning an inner join would have produced the identical
    result and the gap-preserving contract was never exercised."""
    o = load_table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2000-01-01").cast("date"),
                F.lit("2002-06-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start")
    )
    facts = o.select(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("m"),
        "o_orderkey",
        "o_totalprice",
    )
    return (
        F.broadcast(months)
        .join(facts, months.month_start == facts.m, "left")
        .groupBy("month_start")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            # exact integer cents before the sum (registry quantization rule)
            (
                F.coalesce(
                    F.sum(half_away_long(F.col("o_totalprice") * 100)),
                    F.lit(0),
                )
                / F.lit(100.0)
            ).alias("revenue"),
        )
        .orderBy("month_start")
    )


@query(
    "fn_variant_json",
    oracle=f"""
    SELECT CAST(json_extract({_PROPS_JSON}, '$.k') AS INT) // 10 AS k_bucket,
           count(*) AS n,
           CAST(sum(CAST(json_extract({_PROPS_JSON}, '$.k') AS INT)) AS BIGINT)
             AS sum_k
    FROM events GROUP BY k_bucket ORDER BY k_bucket
    """,
    survey_ref="X13,F10 (VARIANT semi-structured type: parse_json + typed variant_get)",
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4): parse_json
    once into a binary-encoded variant, then variant_get typed paths —
    the schema-on-read path for ingest where props keys drift. Unlike
    from_json (fixed schema, one parse per schema) or get_json_object
    (string re-parse per call), the variant parses once and serves every
    path extraction from the encoded form — the scan stays single-pass at
    100 TB.

    Oracle extracts the same path with DuckDB's JSON functions."""
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: the strict form THROWS on the first
    # malformed props row (ANSI), where the lenient form yields a NULL
    # variant — matching the oracle's json_valid guard (edge-fixture class).
    v = ev.select(F.try_parse_json("props").alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "int")
    return (
        v.select(F.floor(k / 10).cast("long").alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("long").alias("sum_k"))
        .orderBy("k_bucket")
    )


@query(
    "fn_map_roundtrip",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract({_PROPS_JSON}, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_v
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="F9 (map type: map_from_entries -> map_filter/transform_values -> explode)",
)
def fn_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: per event, build a map from entry structs
    (map_from_entries), transform its values (transform_values — a
    higher-order map lambda), then explode the map back to rows and
    aggregate. Proves the map column type + its higher-order functions
    compose without leaving the JVM; the oracle never builds the map,
    pinning that the round-trip is semantically invisible."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("k").alias("key"), k.cast("double").alias("value")),
            F.struct(F.lit("v").alias("key"), F.col("value").alias("value")),
        )
    )
    # transform_values: double every value, then halve at read — identity
    # overall, but exercises the map lambda machinery.
    doubled = F.transform_values(m, lambda _, v: v * 2.0)
    exploded = ev.select("event_type", F.explode(doubled).alias("mk", "mv"))
    return (
        exploded.groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n"),
            # no .otherwise(0): non-k rows contribute NULL (ignored by sum),
            # so a group whose every k is NULL/malformed sums to NULL —
            # matching the oracle's sum over json_extract (the old
            # otherwise-0 rendered such a group 0 vs NULL; edge-fixture
            # class, unreachable in the clean sf fixtures)
            F.sum(F.when(F.col("mk") == "k", F.col("mv") / 2.0))
            .cast("long")
            .alias("sum_k"),
            # mv/2 recovers the original 2-dp grid value exactly (×2 and /2
            # are exact double ops), so the cents sum is order-independent
            (
                F.sum(
                    F.when(
                        F.col("mk") == "v",
                        half_away_long(F.col("mv") / 2.0 * 100),
                    )
                )
                / F.lit(100.0)
            ).alias("sum_v"),
        )
        .orderBy("event_type")
    )
