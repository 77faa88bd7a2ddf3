"""onebrc_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference repo Butch78/1BillionRowChallenge (see SURVEY.md), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, partial+final
hash aggregation by Tungsten, and Pandas UDFs only where built-ins genuinely
cannot express the semantics.

Package layout (SURVEY §7.0):
    session    — tuned SparkSession factory
    schemas    — explicit StructType registry (no inference, ever)
    sources/   — parquet/CSV readers, the 1BRC text scan, synthetic generator
    operators/ — aggregates, joins, windows, setops, eventtime, dedup,
                 similarity, textops, multimodal
    functions/ — scalar/array/JSON expression helpers
    streaming/ — Structured Streaming wrappers over the batch operators
    registry   — the (query, oracle_sql) catalog consumed by __spark_entry__
"""

__version__ = "0.1.0"
