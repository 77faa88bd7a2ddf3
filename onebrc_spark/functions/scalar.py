"""Scalar function surface (SURVEY §2.8 F1-F8).

The reference's own scalar surface is tiny: 1-dp rounding (`main.rs:54-57`,
`generate.rs:34`), `/10.0` descaling (`thebracket.rs:175-177`), and report
formatting (`thebracket.rs:172-187`) — F1/F3 are covered by the flagship and
report queries. This module is the general string/date/math/conditional
surface (F5-F8), all JVM-side whole-stage-codegen expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table


@query(
    "fn_strings",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           length(p_name) AS name_len,
           trim(p_type) AS type_trim,
           substring(p_type, 1, 5) AS type_head,
           concat_ws('|', p_brand, p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           CASE WHEN p_name LIKE '%al%' THEN 1 ELSE 0 END AS has_al,
           CASE WHEN p_type IS NULL THEN NULL
                ELSE split_part(p_type, ' ', 1) END AS type_first_word
    FROM part ORDER BY p_partkey
    """,
    survey_ref="F5",
)
def fn_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery: lower/upper/length/trim/substring/concat_ws/
    replace/LIKE/split — all codegen'd JVM expressions."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").alias("name_len"),
        F.trim("p_type").alias("type_trim"),
        F.substring("p_type", 1, 5).alias("type_head"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.when(F.col("p_name").like("%al%"), 1).otherwise(0).alias("has_al"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first_word"),
    ).orderBy("p_partkey")


@query(
    "fn_regexp",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)', 1) AS first_word,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
           CASE WHEN regexp_matches(text, 'spark') THEN 1 ELSE 0 END AS mentions_spark
    FROM documents ORDER BY doc_id
    """,
    survey_ref="F5",
)
def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extract/replace/match over documents.text."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace("text", r"[aeiou]", "")).alias("novowel_len"),
        F.when(F.col("text").rlike("spark"), 1).otherwise(0).alias("mentions_spark"),
    ).orderBy("doc_id")


@query(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           dayofmonth(o_orderdate) AS dom,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS days_since_2024,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders ORDER BY o_orderkey
    """,
    survey_ref="F6",
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery: extract fields, truncate, interval arithmetic,
    datediff, epoch. All results cast to DATE/BIGINT (engine-portable types —
    registry rule: no raw timestamps in results)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).cast("date").alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since_2024"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    ).orderBy("o_orderkey")


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           round(power(l_quantity, 2), 4) AS qty_sq,
           round(sqrt(l_extendedprice), 4) AS price_sqrt,
           round(ln(l_extendedprice + 1), 4) AS price_ln,
           round(l_tax, 2) AS tax_r,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    survey_ref="F7",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery: abs/ceil/floor/pow/sqrt/ln/round/mod."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        # grid-safe (rulebook r13b): integer qty² — round(·,4) identity
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        # grid-safe (rulebook r13c): sqrt is irrational off perfect squares; a (d+1)-digit-5 tie needs a half-ulp coincidence
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        # grid-safe (rulebook r13c): ln is transcendental off price=0; a (d+1)-digit-5 tie needs a half-ulp coincidence
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("price_ln"),
        # grid-safe (rulebook r13b): 2-dp l_tax — identity
        F.round("l_tax", 2).alias("tax_r"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "fn_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_band,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_masked,
           CASE WHEN c_nationkey BETWEEN 0 AND 9 THEN c_nationkey ELSE -1 END AS nation_small
    FROM customer ORDER BY c_custkey
    """,
    survey_ref="F8",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif conditional surface."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "segment_masked"
        ),
        F.when(F.col("c_nationkey").between(0, 9), F.col("c_nationkey"))
        .otherwise(F.lit(-1))
        .alias("nation_small"),
    ).orderBy("c_custkey")


@query(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255        AS key_and,
           o_orderkey | 4096       AS key_or,
           xor(o_orderkey, 65535)  AS key_xor,
           o_orderkey << 2         AS key_shl,
           o_orderkey >> 3         AS key_shr,
           bit_count(o_orderkey)   AS key_popcount
    FROM orders ORDER BY o_orderkey
    """,
    survey_ref="F7 (bitwise: and/or/xor/shift/popcount)",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operators — the substrate of bitmap indexes, feature flags,
    and the hash mixing in every sketch (all JVM-side integer ALU ops, fully
    inside whole-stage codegen)."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("key_and"),
        k.bitwiseOR(F.lit(4096)).alias("key_or"),
        k.bitwiseXOR(F.lit(65535)).alias("key_xor"),
        F.shiftleft(k, 2).alias("key_shl"),
        F.shiftright(k, 3).alias("key_shr"),
        F.bit_count(k).alias("key_popcount"),
    ).orderBy("o_orderkey")


@query(
    "fn_hash_digests",
    oracle="""
    SELECT doc_id,
           md5(text) AS d_md5,
           sha256(text) AS d_sha256,
           length(md5(text)) AS md5_len
    FROM documents ORDER BY doc_id
    """,
    survey_ref="F5 (cryptographic digests: the substrate of X1 exact dedup)",
)
def fn_hash_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digests (md5 / sha-256) as first-class scalar functions —
    the primitive under exact dedup (X1), hash splitting (ml_hash_split),
    and content-addressed storage. JVM-side, codegen'd, identical hex
    output across engines."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("d_md5"),
        F.sha2("text", 256).alias("d_sha256"),
        F.length(F.md5("text")).alias("md5_len"),
    ).orderBy("doc_id")


@query(
    "fn_try_arithmetic",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN value / NULLIF(CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) % 7, 0)
                         IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_div,
           CAST(sum(CASE WHEN CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) % 7 <> 0
                         THEN CAST(round(value * 100) AS BIGINT)
                              * CAST(60 / (CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) % 7) AS BIGINT)
                         ELSE 0 END) AS BIGINT) / 6000.0 AS sum_safe_div,
           CAST(sum(CASE WHEN TRY_CAST(event_type AS DOUBLE) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_uncastable
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="F7,F8 (error-safe arithmetic: try_divide/try_cast under ANSI mode)",
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: under ANSI SQL mode (Spark 4 default)
    a division by zero or bad cast THROWS and kills the job at row
    3-billion-of-100-TB; try_divide / try_cast return NULL instead — the
    production posture for dirty data. The oracle encodes the same
    semantics with NULLIF guards and DuckDB TRY_CAST.

    All JVM codegen expressions — no Python, no exception handling in the
    hot loop (the try_* forms compile to null-checks, not try/catch)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    safe_div = F.try_divide("value", k % 7)
    # exact units: value is a 2-dp grid and every non-null divisor
    # d = k%7 in [-6,6]\{0} divides 60, so cents*(60/d) is an exact
    # BIGINT and the SUM is order-independent (registry rule)
    sd_units = F.when(
        (k % 7) != 0,
        half_away_long(F.col("value") * 100)
        * (F.lit(60) / (k % 7)).cast("long"),
    ).otherwise(F.lit(0))
    return (
        ev.select(
            "event_type",
            safe_div.alias("sd"),
            sd_units.alias("sd_units"),
            F.col("event_type").try_cast("double").alias("tc"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("sd").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_div"),
            (F.sum("sd_units") / F.lit(6000.0)).alias("sum_safe_div"),
            F.sum(F.when(F.col("tc").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_uncastable"),
        )
        .orderBy("event_type")
    )


@query(
    "fn_url_parse",
    oracle="""
    WITH urls AS (
      SELECT 'https://data.example.org/' || event_type || '/ingest?k=' ||
             CAST(CAST(json_extract(CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) AS VARCHAR) ||
             '&u=' || CAST(user_id AS VARCHAR) AS url
      FROM events
    )
    SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           CAST(regexp_extract(url, 'k=([0-9]+)', 1) AS INT) AS k_param,
           count(*) AS n
    FROM urls GROUP BY host, path, k_param ORDER BY path, k_param
    """,
    survey_ref="F5 (URL decomposition: parse_url host/path/query-param)",
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with parse_url (HOST / PATH / QUERY:key) — the
    first transform of every web-crawl curation pipeline (domain
    reputation, path-based routing, tracking-param stripping). URLs are
    built deterministically from events so the oracle — which decomposes
    with regexes, pinning parse_url's semantics rather than assuming
    DuckDB had the same builtin — sees identical input.

    Narrow per-row JVM expressions; the aggregate is a wordcount shape on
    (host, path, k)."""
    ev = load_table(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://data.example.org/"),
        F.col("event_type"),
        F.lit("/ingest?k="),
        F.get_json_object("props", "$.k").cast("int").cast("string"),
        F.lit("&u="),
        F.col("user_id").cast("string"),
    )
    u = ev.select(url.alias("url"))
    return (
        u.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY"), F.lit("k")).cast("int").alias("k_param"),
        )
        .groupBy("host", "path", "k_param")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("path", "k_param")
    )


@query(
    "fn_collation_ci",
    # Mixed-case spellings are constructed deterministically (user_id % 3
    # picks lower/UPPER/Initcap), then grouped under a case-insensitive
    # collation. The oracle normalizes with lower() — the pre-collation
    # idiom — so the check pins that UNICODE_CI grouping merges exactly the
    # classes lower() merges on this ASCII domain.
    oracle="""
    WITH spell AS (
      SELECT CASE user_id % 3
               WHEN 0 THEN lower(event_type)
               WHEN 1 THEN upper(event_type)
               ELSE upper(substr(event_type, 1, 1)) || lower(substr(event_type, 2))
             END AS styled,
             value
      FROM events
    )
    SELECT lower(styled) AS event_type_ci,
           count(*) AS n,
           CAST(count(DISTINCT styled) AS BIGINT) AS n_spellings,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM spell GROUP BY 1 ORDER BY 1
    """,
    survey_ref="F5 (Spark 4 collations: UNICODE_CI-aware grouping)",
)
def fn_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4): `collate(s, 'UNICODE_CI')` makes
    GROUP BY / joins / comparisons case-insensitive at the TYPE level — the
    engine-native replacement for sprinkling lower() at every call site,
    and unlike lower() it extends to locale-correct Unicode folding. Three
    deterministic spellings of each event type collapse to one group;
    n_spellings (counted case-sensitively) proves they were distinct
    strings before collation merged them."""
    ev = load_table(spark, sf_dir, "events")
    styled = (
        F.when(F.col("user_id") % 3 == 0, F.lower("event_type"))
        .when(F.col("user_id") % 3 == 1, F.upper("event_type"))
        .otherwise(F.initcap("event_type"))
        .alias("styled")
    )
    spell = ev.select(styled, "value")
    return (
        spell.groupBy(F.collate("styled", "UNICODE_CI").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.collate("styled", "UTF8_BINARY")).alias("n_spellings"),
            F.sum(half_away_long(F.col("value") * 100)).alias("sum_cents"),
        )
        .select(
            F.lower(F.col("k").cast("string")).alias("event_type_ci"),
            "n",
            "n_spellings",
            "sum_cents",
        )
        .orderBy("event_type_ci")
    )
