"""Pandas UDF / UDAF / grouped-map surface (SURVEY §2.10 U1-U3).

The engine's policy is built-ins first (SNIPPETS.md patterns [1]-[3]): these
operators exist to prove the Arrow-vectorized escape hatch works end-to-end
for semantics Catalyst genuinely can't express. Each one is written so its
result is still DuckDB-oracle-checkable (deterministic math, stable order).

Scale notes: pandas_udf transfers Arrow batches (10k rows default per batch)
— ~100× fewer Python crossings than row UDFs; applyInPandas shuffles by the
group key, so group cardinality must exceed executor count (user_id here).
"""

from __future__ import annotations


import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table


@F.pandas_udf(T.DoubleType())
def _sigmoid_scaled(v: pd.Series) -> pd.Series:
    """U1 scalar vectorized kernel: logistic transform (numpy-vectorized)."""
    import numpy as np

    return 1.0 / (1.0 + np.exp(-v / 50.0))


@query(
    "udf_scalar_sigmoid",
    oracle="""
    SELECT event_id,
           round(1.0 / (1.0 + exp(-value / 50.0)), 6) AS sig
    FROM events ORDER BY event_id
    """,
    survey_ref="U1",
)
def udf_scalar_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf (Series→Series over Arrow batches); oracle is the
    same closed-form math in SQL — both engines evaluate IEEE double exp."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        # grid-safe (rulebook r13c): sigmoid is transcendental off value=0 (sigmoid(0)=0.5, 1 digit); a (d+1)-digit-5 tie needs a half-ulp coincidence
        "event_id", F.round(_sigmoid_scaled("value"), 6).alias("sig")
    ).orderBy("event_id")


@F.pandas_udf(T.DoubleType())
def _geo_mean(v: pd.Series) -> float:
    """U2 grouped-agg kernel: geometric mean (not a Spark built-in)."""
    import numpy as np

    return float(np.exp(np.log(v[v > 0]).mean()))


@query(
    "udf_grouped_agg_geomean",
    oracle="""
    SELECT event_type,
           round(exp(avg(ln(value))), 4) AS geo_mean
    FROM events WHERE value > 0
    GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="U2",
)
def udf_grouped_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas_udf (UDAF): per-type geometric mean of
    value. 4-dp rounding absorbs summation-order float drift between the
    engines' mean computations."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return (
        ev.groupBy("event_type")
        # grid-safe (rulebook r13c): exp∘avg∘ln transcendental off the all-equal 2-dp degenerate; a (d+1)-digit-5 tie needs a half-ulp coincidence
        .agg(F.round(_geo_mean("value"), 4).alias("geo_mean"))
        .orderBy("event_type")
    )


_ZSCORE_SCHEMA = "user_id long, event_id long, value double, zscore double"


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """U3 grouped-map kernel: within-user z-score normalization.

    Degenerate groups (single row → stddev_samp NaN, or constant values →
    sd == 0) produce NULL, matching the SQL `(value - avg) / stddev_samp`
    semantics exactly — the oracle divides by NULL/0 there, not 0.0. The
    explicit pd.notna guard matters: NaN is truthy-ish through `sd > 0`
    comparisons being False, but relying on that is fragile.
    """
    mu = pdf["value"].mean()
    sd = pdf["value"].std(ddof=1)
    pdf = pdf[["user_id", "event_id", "value"]].copy()
    if pd.notna(sd) and sd > 0:
        pdf["zscore"] = (pdf["value"] - mu) / sd
    else:
        pdf["zscore"] = None
    return pdf


@query(
    "udf_grouped_map_zscore",
    oracle="""
    SELECT user_id, event_id,
           value,
           round((value - avg(value) OVER (PARTITION BY user_id))
                 / nullif(stddev_samp(value) OVER (PARTITION BY user_id), 0),
                 4) + 0.0 AS zscore
    FROM events ORDER BY user_id, event_id
    """,
    survey_ref="U3",
)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (UDTF-like: whole group in, whole group
    out): per-user z-scores. Oracle is the window-function formulation —
    also the pure-Spark way to write this; the applyInPandas form exists for
    kernels that need real per-group numpy/scipy code."""
    ev = load_table(spark, sf_dir, "events")
    out = ev.select("user_id", "event_id", "value").groupBy("user_id").applyInPandas(
        _zscore_group, _ZSCORE_SCHEMA
    )
    return out.select(
        "user_id",
        "event_id",
        # raw pass-through (registry rule: per-row scalars stay unrounded;
        # value is bit-identical in both engines). zscore KEEPS its round:
        # pandas mean/std vs the window aggregates are genuinely different
        # float computations, and the 4-dp round absorbs their ulp gap.
        # nullif(sd, 0) in the oracle matches the kernel's None for
        # constant-value groups — DuckDB's IEEE 0.0/0.0 would be NaN,
        # not NULL (round-5 review; latent in the fixture).
        F.col("value"),
        # + 0.0 canonicalizes IEEE -0.0: a value within half an ulp-of-4dp
        # of its group mean rounds to ±0.0 depending on which side the
        # engine's summation lands (seen at sf0.1: pandas mean vs DuckDB
        # window avg disagree by one ulp, flipping the sign of a ~1e-15 z).
        # grid-safe (rulebook r13c): √variance denominator irrational off degenerate groups; a (d+1)-digit-5 tie needs a half-ulp coincidence
        (F.round("zscore", 4) + 0.0).alias("zscore"),
    ).orderBy("user_id", "event_id")


_CHUNK = 10  # words per chunk


@query(
    "udtf_chunk_documents",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % 10 = 0
    ), chunks AS (
      SELECT doc_id,
             CAST(i AS INT) AS chunk_idx,
             least({_CHUNK}, len(ws) - i * {_CHUNK}) AS n_words,
             ws[i * {_CHUNK} + 1] AS first_word
      FROM words, unnest(range(CAST(ceil(len(ws) / {_CHUNK}.0) AS BIGINT))) AS t(i)
    )
    SELECT doc_id, chunk_idx, CAST(n_words AS INT) AS n_words, first_word
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
    survey_ref="U4 (Python UDTF: one-to-many table function via LATERAL)",
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function, U4 — completes the U1-U3 UDF
    surface): split each document into fixed-size word chunks, one OUTPUT
    ROW per chunk via LATERAL — the tokenize-and-shard step expressed as a
    user table function. Python UDTFs are row-at-a-time (the slow path,
    like all of udfs.py, kept to a doc_id%10 slice to bound cost); the
    JVM formulation of this exact transform is curation.ml_sequence_packing
    (posexplode over slice), which is what the 100 TB path uses.

    Oracle reproduces the chunk arithmetic with unnest(range(...))."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, chunk_idx: int, n_words: int, first_word: string")
    class ChunkDoc:
        def eval(self, doc_id: int, text: str):
            words = text.split(" ")
            for i in range(0, (len(words) + _CHUNK - 1) // _CHUNK):
                chunk = words[i * _CHUNK : (i + 1) * _CHUNK]
                yield doc_id, i, len(chunk), chunk[0]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    # The UDTF is called, not registered: a session-global function name
    # would be shared by every build on the session.
    chunks = ChunkDoc(F.col("d.doc_id").outer(), F.col("d.text").outer())
    return (
        docs.alias("d")
        .lateralJoin(chunks.alias("c"))
        .select("c.doc_id", "c.chunk_idx", "c.n_words", "c.first_word")
        .orderBy("doc_id", "chunk_idx")
    )
