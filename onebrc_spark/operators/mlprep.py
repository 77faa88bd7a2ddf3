"""Training-data preparation operators (SURVEY §2.10 extension surface).

The ops a large-scale LLM training pipeline runs between raw corpus and
tokenizer: deterministic train/val/test splitting, and source-mix curation
(per-source quotas for a weighted training mixture). Both are built on
*content-addressed pseudo-randomness* — `md5(key)` — instead of `rand()`:
the split is a pure function of the row, so it is reproducible across runs,
engines, and cluster sizes, needs no persisted assignment table, and lets
the DuckDB oracle reproduce it bit-for-bit (MD5 is MD5 everywhere).

Scale notes (100 TB): both ops are narrow per-row maps plus one hash
aggregation / one window. The split adds no shuffle at all on top of the
final count aggregation; the mix op's window shuffles on `source` (tens to
thousands of keys) carrying only (doc_id, source, hash) — never the text.
A `rand()`-based split, by contrast, is non-reproducible under task retry
(Spark may re-execute a partition, re-drawing the randoms) — hash splitting
is the only safe form at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table

# Per-source quota for the curated mixture. Real pipelines read this from a
# mixture config (weights per source); a constant keeps the oracle exact.
_MIX_QUOTA = 12


def _hash_bucket(key: Column) -> Column:
    """Deterministic bucket in [0, 16) from the first hex digit of md5(key).

    '0'-'9' → 0-9 (ascii 48-57), 'a'-'f' → 10-15 (ascii 97-102); expressed
    with ascii() arithmetic so the identical expression runs in DuckDB.
    THE one definition of the idiom — incremental batch membership and the
    cluster-safe split build on this pair, so a change to the bucketing
    applies everywhere at once instead of silently desynchronizing an
    oracle from its Spark plan.
    """
    a = F.ascii(F.substring(F.md5(key.cast("string")), 1, 1))
    return F.when(a <= 57, a - 48).otherwise(a - 87)


def hash_bucket_sql(expr: str) -> str:
    """DuckDB twin of _hash_bucket over an arbitrary SQL expression."""
    h = f"ascii(substr(md5(CAST({expr} AS VARCHAR)), 1, 1))"
    return f"""
    CASE WHEN {h} <= 57
         THEN {h} - 48
         ELSE {h} - 87
    END"""


_HASH_BUCKET_SQL = hash_bucket_sql("doc_id")


@query(
    "ml_hash_split",
    oracle=f"""
    WITH b AS (
        SELECT lang, n_chars, {_HASH_BUCKET_SQL} AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 12 THEN 'train'
                WHEN bucket < 14 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY split, lang ORDER BY split, lang
    """,
    survey_ref="X1/X4 (deterministic hash-based train/val/test split)",
)
def ml_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split of the corpus by
    content-addressed hash bucket, reported as per-(split, lang) doc and
    char counts — the reproducible-split primitive every training pipeline
    needs (see module docstring for why hash, not rand)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 12, "train").when(bucket < 14, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


@query(
    "ml_source_mix",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS mix_chars
    FROM ranked WHERE rn <= {_MIX_QUOTA}
    GROUP BY source ORDER BY source
    """,
    survey_ref="X4 (source-mix curation: per-source quota sampling)",
)
def ml_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curate a weighted training mixture: keep a fixed per-source quota of
    documents, chosen by hash order (a deterministic uniform sample within
    each source — the md5 ordering is a random permutation that every
    engine/run agrees on). Output is the per-source mix census.

    Scale: the window shuffles on `source`; per-source quota selection at
    100 TB prefers this over `ORDER BY rand() LIMIT n` per source, which
    would need a global sort per source and re-draws under retry."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("source", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _MIX_QUOTA)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("mix_chars"))
        .orderBy("source")
    )


def _pct_hash(key: Column) -> Column:
    """Deterministic percentile in [0, 100) from the first two DECIMAL
    digits of md5 (hex letters stripped) — the dedup.py portable-hash trick,
    reproducible verbatim in DuckDB."""
    digits = F.translate(F.md5(key), "abcdef", "")
    return F.substring(F.rpad(digits, 2, "0"), 1, 2).cast("int")


_PCT_HASH_SQL = (
    "CAST(substring(rpad(regexp_replace(md5('samp:' || CAST(doc_id AS VARCHAR)),"
    " '[a-f]', '', 'g'), 2, '0'), 1, 2) AS INT)"
)


@query(
    "ml_stratified_sample",
    oracle=f"""
    WITH counts AS (
      SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
    ), mn AS (
      SELECT min(n_total) AS min_n FROM counts
    ), rates AS (
      SELECT lang, n_total,
             CAST(floor(100.0 * min_n / n_total) AS INT) AS keep_pct
      FROM counts, mn
    ), tagged AS (
      SELECT lang, {_PCT_HASH_SQL} AS pct FROM documents
    )
    SELECT r.lang, r.n_total, r.keep_pct,
           CAST(sum(CASE WHEN t.pct < r.keep_pct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled
    FROM tagged t JOIN rates r USING (lang)
    GROUP BY r.lang, r.n_total, r.keep_pct
    ORDER BY r.lang
    """,
    survey_ref="X4 (stratified balancing sample: data-driven per-stratum rates)",
)
def ml_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified balancing sample: downsample every language stratum to
    (approximately) the size of the smallest one, with data-driven keep
    rates (floor(100·min/n) percent) and a content-addressed per-doc
    percentile — so the sample is reproducible across runs/engines/retries,
    unlike `df.sampleBy(...)`, whose rand() stream re-draws under task
    retry.

    Scale: one dim-sized census (langs), broadcast back; the corpus-sized
    side is a narrow map + filter — zero extra shuffles of the text."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    min_n = counts.agg(F.min("n_total").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        "n_total",
        F.floor(100.0 * F.col("min_n") / F.col("n_total")).cast("int").alias("keep_pct"),
    )
    pct = _pct_hash(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")))
    return (
        docs.select("lang", pct.alias("pct"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_total", "keep_pct")
        .agg(
            F.sum(F.when(F.col("pct") < F.col("keep_pct"), 1).otherwise(0))
            .cast("long")
            .alias("n_sampled")
        )
        .orderBy("lang")
    )


_FIXED_K = 100


@query(
    "ml_fixed_size_sample",
    oracle=f"""
    SELECT doc_id, source FROM documents
    ORDER BY md5('fix:' || CAST(doc_id AS VARCHAR)) LIMIT {_FIXED_K}
    """,
    survey_ref="O1-O3,X4 (exact-k uniform sample: top-k by content hash)",
)
def ml_fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample: order by a content-addressed hash of the
    key and take the top k — the distributed replacement for reservoir
    sampling. `df.sample(fraction)` gives a binomial (±sqrt) count and
    re-draws under task retry; hash-top-k gives exactly k, the same k every
    run, on every engine.

    Scale: this compiles to TakeOrderedAndProject — each partition keeps a
    local k-heap, the driver merges P*k rows; no shuffle of the corpus and
    no full sort (pinned in tests/test_plans.py for topk_limit)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("fix:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "source", h.alias("h"))
        .orderBy("h")
        .limit(_FIXED_K)
        .select("doc_id", "source")
    )


# alpha = 0.5 via sqrt (IEEE-correctly-rounded, so bit-portable across
# engines), then quantized to an exact integer milli-weight PER SOURCE before
# any summation: sum(sqrt(..)) as DOUBLE is partition-order-dependent in its
# low bits, and floor(100*x) amplifies that into a ±1 keep_pct flip (observed
# once at sf0.1 under concurrent load). Integer weights make the whole rate
# computation order-independent on both engines.
_MIX_WEIGHT_SQL = "CAST(round(sqrt(CAST(n_total AS DOUBLE)) * 1000) AS BIGINT)"


@query(
    "ml_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_total FROM documents GROUP BY source
    ), z AS (
      SELECT CAST(sum({_MIX_WEIGHT_SQL}) AS BIGINT) AS denom_i,
             CAST(sum(n_total) AS BIGINT) AS total FROM counts
    ), rates AS (
      SELECT source, n_total,
             CAST(least(100,
               ( ((50 * total) // denom_i) * {_MIX_WEIGHT_SQL}
                 + (((50 * total) % denom_i) * {_MIX_WEIGHT_SQL}) // denom_i
               ) // n_total) AS INT)
               AS keep_pct
      FROM counts, z
    ), tagged AS (
      SELECT source,
             CAST(substring(rpad(regexp_replace(
               md5('mix:' || CAST(doc_id AS VARCHAR)), '[a-f]', '', 'g'),
               2, '0'), 1, 2) AS INT) AS pct
      FROM documents
    )
    SELECT r.source, r.n_total, r.keep_pct,
           CAST(sum(CASE WHEN t.pct < r.keep_pct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled
    FROM tagged t JOIN rates r USING (source)
    GROUP BY r.source, r.n_total, r.keep_pct
    ORDER BY r.source
    """,
    survey_ref="X11 (temperature-weighted source mixing, alpha=0.5)",
)
def ml_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (the multilingual-pretraining
    resampler): sample source s with probability proportional to n_s^alpha
    (alpha=0.5 — implemented as sqrt, which is IEEE-correctly-rounded and
    thus bit-portable across engines, unlike pow), scaled to a half-corpus
    token target, capped at keeping everything. Per-doc keep decisions are
    content-addressed (md5 percentile), so the mix is identical across
    runs, engines, and task retries.

    Determinism: each source's sqrt-weight is quantized to an integer
    milli-weight BEFORE the normalizer sum — a DOUBLE sum's low bits
    depend on partition merge order, and floor(100*x) amplifies that into
    a ±1 keep_pct flip; with integer weights keep_pct is the floor of an
    exact rational (50·total·w / (denom·n_s)), identical under any
    partitioning and any engine.

    Overflow headroom: the direct product 50·total·w grows as 5e4·N^1.5
    for a dominant source (w = round(1000·√n_s)) and would wrap int64 at
    ~3e9 docs — inside the 100 TB (~1e10-doc) design target. The division
    is therefore STAGED with remainder carry, exactly:
    floor(A·w/(denom·n)) = floor((q1·w + floor(r1·w/denom))/n) where
    A = 50·total = q1·denom + r1. Every intermediate is bounded by
    denom·w ≈ 1e6·√(S·N)·√n_max ≤ 1e6·N·√S, so int64 holds to N·√S <
    9.2e12 — ~1e11 docs at 1e4 sources (skew-independent); past that,
    widen the staged terms to DECIMAL(38,0).

    Scale: the source census is dim-sized and broadcast; the corpus-sized
    side is a narrow projection + filter — the text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    weight = half_away_long(F.sqrt(F.col("n_total").cast("double")) * 1000)
    z = counts.agg(
        F.sum(weight).alias("denom_i"),
        F.sum("n_total").cast("long").alias("total"),
    )
    rates = (
        counts.crossJoin(F.broadcast(z))
        .withColumn("wt", weight)
        .select(
            "source",
            "n_total",
            F.least(
                F.lit(100).cast("long"),
                F.expr(
                    "( ((50 * total) div denom_i) * wt"
                    "  + (((50 * total) % denom_i) * wt) div denom_i"
                    ") div n_total"
                ),
            )
            .cast("int")
            .alias("keep_pct"),
        )
    )
    pct = _pct_hash(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    return (
        docs.select("source", pct.alias("pct"))
        .join(F.broadcast(rates), "source")
        .groupBy("source", "n_total", "keep_pct")
        .agg(
            F.sum(F.when(F.col("pct") < F.col("keep_pct"), 1).otherwise(0))
            .cast("long")
            .alias("n_sampled")
        )
        .orderBy("source")
    )


@query(
    "ml_quantile_filter",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
      FROM documents
    )
    SELECT source,
           count(*) AS n_kept,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars
    FROM ranked WHERE pr >= 0.05 AND pr <= 0.95
    GROUP BY source ORDER BY source
    """,
    survey_ref="X11,W4 (percentile-band outlier filter per stratum)",
)
def ml_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band outlier filter: within each source, drop documents
    below P5 / above P95 by length — the tail-trimming step before quality
    scoring (truncation artifacts live in the tails). percent_rank is
    (rank-1)/(n-1) in both engines, so the band edges agree exactly.

    Scale: exact per-group percent_rank is a window sort over the group —
    fine when groups fit a partition (sources do). For corpus-sized strata
    the production variant computes approx_percentile(n_chars, [.05,.95])
    per stratum (one agg, tiny result), broadcasts the two cut points, and
    filters narrowly — same output contract, no window sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pr = F.percent_rank().over(
        Window.partitionBy("source").orderBy("n_chars")
    )
    return (
        docs.select("source", "n_chars", pr.alias("pr"))
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            # unrounded exact-integer ratio (registry rule: a final
            # round() diverges between engines on print-boundary doubles)
            (F.sum("n_chars") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("source")
    )


# --- X11b: deterministic global shuffle + sharding --------------------------

_N_SHARDS = 64


@query(
    "ml_deterministic_shard",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT)
               % {_N_SHARDS} AS shard
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           arg_min(doc_id, h) AS first_doc
    FROM assigned GROUP BY shard ORDER BY shard
    """,
    survey_ref="X11b (content-addressed shuffle -> training shards)",
)
def ml_deterministic_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the step that turns
    a curated corpus into training shards: shard = first md5 byte of the
    key mod N, within-shard order = full md5 (a content-addressed
    permutation, so 'shuffled' yet bit-reproducible across runs, engines,
    cluster sizes, and task retries — rand() re-draws under Spark retry,
    md5 cannot). Emits the per-shard manifest (sizes + head-of-shard doc);
    the write path is `df.repartitionByRange('shard', 'h').write
    .partitionBy('shard')` with the same expressions.

    Scale notes (100 TB): one hash-partition shuffle on (shard) carrying
    (doc_id, n_chars, 32-byte hash) — the text goes straight from scan to
    sink; the manifest aggregation is map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % _N_SHARDS
    )
    return (
        d.select("doc_id", "n_chars", h.alias("h"), shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min_by("doc_id", "h").alias("first_doc"),
        )
        .orderBy("shard")
    )


# --- X11c/X4e: domain capping + per-source token budgets ---------------------

# Per-domain document cap and per-source token budget for the curated
# mixture. Real pipelines read these from a mixture config; constants keep
# the oracles exact.
_DOMAIN_CAP = 10
_TOKEN_BUDGET = 800


@query(
    "ml_domain_cap",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT source, doc_id, n_tokens,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tokens DESC, doc_id) AS rnk
      FROM toks
    )
    SELECT source, doc_id, n_tokens, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_DOMAIN_CAP}
    ORDER BY source, rnk
    """,
    survey_ref="X11d,X11 (per-domain frequency capping for web-scale curation)",
)
def ml_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping: keep at most _DOMAIN_CAP documents per
    source, preferring the token-richest (ties broken by doc_id — fully
    deterministic). This is the standard web-curation guard against any
    single domain dominating the training mixture (the `source` column
    stands in for registered domain).

    Scale notes (100 TB): one hash shuffle on `source` carrying
    (doc_id, n_tokens) — the text never moves; the rank is a per-key
    window (top-N-per-group, the window_topn_per_group shape). A
    pathologically hot domain is exactly what dq_key_skew_profile prices
    pre-join; the salted two-phase variant (partial top-N per partition,
    then top-N of top-Ns — valid because rank-N is monotone under
    concatenation) drops in without changing this result."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = (
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    return (
        d.select("source", "doc_id", n_tokens)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _DOMAIN_CAP)
        .orderBy("source", "rnk")
    )


@query(
    "ml_token_budget",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), run AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE cum <= {_TOKEN_BUDGET}) AS BIGINT)
             AS n_kept,
           CAST(count(*) FILTER (WHERE cum > {_TOKEN_BUDGET}) AS BIGINT)
             AS n_dropped,
           CAST(coalesce(sum(n_tokens) FILTER (WHERE cum <= {_TOKEN_BUDGET}),
                         0) AS BIGINT) AS kept_tokens
    FROM run GROUP BY source ORDER BY source
    """,
    survey_ref="X11e,X11 (per-source token budgets: mixture weights in tokens)",
)
def ml_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgeting: admit documents in ingest order
    (doc_id) until the source's token budget is exhausted — mixture
    weights are specified in TOKENS, not documents, in every modern
    pretraining recipe, so the curation op must cut on a running token
    sum, not a row count. Emits the per-source admission summary
    (n_kept / n_dropped / kept_tokens), all exact integers.

    Scale notes (100 TB): one hash shuffle on `source` carrying
    (doc_id, n_tokens); the running sum is a per-key prefix scan inside
    the window sort, then the summary aggregates map-side. The admission
    set is reproducible under any partitioning because the cut order is
    the stored doc_id, never arrival order."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = (
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = d.select("source", "doc_id", n_tokens).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    kept = F.col("cum") <= _TOKEN_BUDGET
    return (
        run.groupBy("source")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


# --- X11f: quality-weighted upsampling (epoch repetition factors) ------------

_UPS_PCT_SQL = (
    "CAST(substring(rpad(regexp_replace(md5('ups:' || CAST(doc_id AS VARCHAR)),"
    " '[a-f]', '', 'g'), 2, '0'), 1, 2) AS INT)"
)


@query(
    "ml_quality_upsample",
    oracle=f"""
    WITH w AS (
      SELECT source, doc_id,
             10 + ({hash_bucket_sql("source")}) * 2 AS w_tenths,
             {_UPS_PCT_SQL} AS pct
      FROM documents
    ), per_doc AS (
      SELECT source, w_tenths,
             w_tenths // 10
               + CASE WHEN pct < (w_tenths % 10) * 10 THEN 1 ELSE 0 END
               AS n_copies
      FROM w
    )
    SELECT source,
           CAST(max(w_tenths) AS BIGINT) AS w_tenths,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_copies,
           CAST(sum(n_copies) * 1000000 // count(*) AS BIGINT)
             AS upsample_ppm
    FROM per_doc GROUP BY source ORDER BY source
    """,
    survey_ref="X11f (quality-weighted upsampling: fractional epoch repetition)",
)
def ml_quality_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional epoch-repetition factors: every pretraining mixture
    assigns each source a repetition weight (often fractional, e.g. 2.4
    epochs of Wikipedia); a doc under weight w is materialized floor(w)
    times plus one more with probability frac(w). The Bernoulli draw is
    CONTENT-ADDRESSED (md5 percentile with its own 'ups:' salt, so it is
    independent of the sampling op's draws): reproducible across runs,
    engines, and task retries, and the realized expansion is exact —
    Σ n_copies is a deterministic function of the corpus, not a random
    variate. Weights here derive from the source name (tenths in
    [1.0, 4.0] step 0.2 via the shared md5 bucket) standing in for the
    mixture config. Emits the per-source expansion census with
    upsample_ppm = realized copies per doc in exact-integer ppm.

    Scale notes (100 TB): per-row map (JVM codegen, no Python) + one
    map-side-combinable aggregate on source. The materialization step is
    `posexplode(sequence(1, n_copies))` in the writer — the census here is
    its exact size forecast, so the op doubles as the pre-write cost
    estimate."""
    d = load_table(spark, sf_dir, "documents")
    w_tenths = (F.lit(10) + _hash_bucket(F.col("source")) * 2).alias("w_tenths")
    digits = F.translate(
        F.md5(F.concat(F.lit("ups:"), F.col("doc_id").cast("string"))),
        "abcdef",
        "",
    )
    pct = F.substring(F.rpad(digits, 2, "0"), 1, 2).cast("int")
    per_doc = d.select("source", w_tenths, pct.alias("pct")).select(
        "source",
        "w_tenths",
        (
            (F.col("w_tenths") / 10).cast("long")
            + F.when(F.col("pct") < (F.col("w_tenths") % 10) * 10, 1).otherwise(0)
        ).alias("n_copies"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.max("w_tenths").cast("long").alias("w_tenths"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_copies").cast("long").alias("n_copies"),
            F.expr("CAST(sum(n_copies) * 1000000 div count(*) AS BIGINT)").alias(
                "upsample_ppm"
            ),
        )
        .orderBy("source")
    )


# --- X11h: size-balanced shard packing (serpentine / snake-draft) -----------

_BINPACK_SHARDS = 8


@query(
    "ml_shard_binpack",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                                  t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
      FROM sized
    ), assigned AS (
      SELECT doc_id, n_tokens,
             CAST(CASE WHEN (r // {_BINPACK_SHARDS}) % 2 = 0
                       THEN r % {_BINPACK_SHARDS}
                       ELSE {_BINPACK_SHARDS} - 1 - (r % {_BINPACK_SHARDS})
                  END AS INTEGER) AS shard
      FROM ranked
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc_id
    FROM assigned GROUP BY shard ORDER BY shard
    """,
    survey_ref="X11h (size-balanced shard packing for data-parallel training)",
)
def ml_shard_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assignment — the manifest step before
    data-parallel training: K workers each stream one shard, so shard
    TOKEN totals (not doc counts) must balance or the largest shard sets
    every epoch's wall clock. Greedy first-fit-decreasing is inherently
    sequential; the distributed-friendly equivalent is the snake draft:
    rank docs by (n_tokens DESC, doc_id), then assign rank r to shard
    r%K on even passes and K-1-(r%K) on odd passes. Serpentine ordering
    cancels the within-pass size gradient (plain round-robin hands shard
    0 the largest doc of EVERY pass), giving max/min shard-token spreads
    within a fraction of one document of optimal for heavy-tailed sizes —
    while staying a pure function of the corpus: deterministic under any
    partitioning, no driver loop, no global-sort bottleneck.

    The global rank uses relational.global_row_number (range-partition →
    broadcast offsets → per-partition row_number — sort_global_dense_ids'
    two-phase machinery, shared), so nothing funnels through one
    partition; the serpentine is a narrow arithmetic map on the rank and
    the census is a K-row aggregate. Output: per-shard manifest row
    (docs, token total, largest doc, first doc id) — all exact integers.
    At 100 TB this is exactly how shard manifests for a 1000-worker run
    get stamped; the doc→shard map itself is the pre-census `assigned`
    frame, written alongside.
    """
    from onebrc_spark.operators.relational import global_row_number

    K = _BINPACK_SHARDS
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                     lambda t: t != "")
        )
        .cast("long")
        .alias("n_tokens"),
    )
    ranked = global_row_number(
        spark, sized, [F.desc("n_tokens"), F.asc("doc_id")], col_name="rn"
    ).withColumn("r", F.col("rn") - 1)
    assigned = ranked.withColumn(
        "shard",
        F.when(
            (F.col("r") / K).cast("long") % 2 == 0, F.col("r") % K
        )
        .otherwise(K - 1 - F.col("r") % K)
        .cast("int"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.max("n_tokens").cast("long").alias("max_doc_tokens"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
        )
        .orderBy("shard")
    )
