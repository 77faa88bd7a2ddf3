"""1BRC text scan & sink (SURVEY §2.1 S1/S3/S8, §2.2 P1-P5).

The reference's scan surface is: lazy CSV with ';' separator, no header,
explicit 2-column schema (`python_1brc/main.py:15`,
`rust_1brc/src/main.rs:232-236`). Its parallel variants split the file at
byte offsets and snap chunk starts to the next newline
(`python_1brc/main.py:92-101`, `rust_1brc/src/main.rs:79-122`,
`thebracket.rs:35-44`) — Spark's text sources already do exactly that split
(Hadoop LineRecordReader semantics), tuned by
`spark.sql.files.maxPartitionBytes`, so the parallel scan needs zero code.

Malformed-row semantics mirror the strict reference parsers
(`rust_1brc/src/main.rs:140-144` errors on a line without ';'): FAILFAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.schemas import MEASUREMENTS


def read_measurements(spark: SparkSession, path: str) -> DataFrame:
    """Lazy, partitioned scan of `station;temp` text into (station, measure).

    FAILFAST is the input check: it reproduces the reference's
    error-on-malformed-line behavior (`main.rs:140-144`,
    `purple_mist.rs:37-38`).
    """
    return (
        spark.read.schema(MEASUREMENTS)
        .option("sep", ";")
        .option("header", "false")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_measurements_fast(spark: SparkSession, path: str) -> DataFrame:
    """Trusted-input scan of `station;temp` text: line reader + one split.

    The CSV reader (read_measurements) pays for quoting/escape/multi-column
    machinery a 2-column semicolon format never uses; this path reads raw
    lines and splits once — measured 18 → 25 M rows/s on 50M rows. It is
    the semantic twin of the reference's no-validation byte scanners
    (`thebracket.rs:80-107`, `rangnargrootkeorkamp.rs:137-181`). Malformed
    lines are not validated here: a temperature field that is not a number
    (`b;xyz`, or a line without `;`, whose whole text becomes the field)
    fails the query with CAST_INVALID_INPUT when the lazy frame executes,
    under Spark's default ANSI mode (pinned by
    tests/test_flagship.py::test_fast_readers_on_malformed). Use
    read_measurements to reject such lines, or the PERMISSIVE pattern of
    onebrc_permissive_quarantine to classify and count them. Everything
    stays in whole-stage codegen — substring_index + cast are JVM
    expressions on the scan.
    """
    return spark.read.text(path).select(
        F.substring_index("value", ";", 1).alias("station"),
        F.substring_index("value", ";", -1).cast("double").alias("measure"),
    )


def write_measurements(df: DataFrame, path: str) -> None:
    """Sink (station, measure) back to 1BRC text format (generate.rs:35).

    format_string, NOT format_number: format_number inserts
    thousands-grouping commas ('1,234.5'), which silently corrupts the
    `station;temp` line format for any |measure| >= 1000 — both readers
    would fail on the unparseable number (round-5 review; latent while
    generator temps stay within ±150)."""
    (
        df.select(
            F.format_string("%s;%.1f", F.col("station"), F.col("measure"))
        ).write.mode("overwrite").text(path)
    )


def format_report(agg: DataFrame) -> DataFrame:
    """Morling-canonical single-line report sink (SURVEY §2.1 S8).

    Input: the flagship result (station, min, mean, max) sorted by station.
    Output: one row, one column `report` =
    `{a=min/mean/max, b=min/mean/max, ...}` — the format of
    `thebracket.rs:169-187` / `rangnargrootkeorkamp.rs:330-353`.

    Uses sort_array over collect_list of (station, line) STRUCTS — sorted
    by station name, then the line extracted — so the result is
    deterministic without a single-partition pre-sort AND the order is the
    canonical station order (sorting the formatted lines themselves breaks
    when one station name is a prefix of another: ' ' and digits sort
    below '=', so 'Foo Bar=...' would precede 'Foo=...').
    """
    # Round to 1 dp BEFORE formatting: Spark round() and DuckDB round() agree
    # (shortest-decimal half-up), but %.1f-style formatters disagree on raw
    # ties (Java formats the shortest repr, fmt formats the binary value).
    # Formatting an already-1-dp-rounded double is stable in both.
    per_station = agg.select(
        "station",
        F.format_string(
            "%s=%.1f/%.1f/%.1f",
            F.col("station"),
            # grid-safe: mean is on the 0.1 grid (identity); min/max 2-dp ties k.x5 scale
            # exactly onto the dyadic half — ×10 re-rounds onto the tie (exhaustive check:
            # tests/test_boundary_properties.py) — where both engines round half away
            F.round(F.col("min"), 1),
            F.round(F.col("mean"), 1),
            F.round(F.col("max"), 1),
        ).alias("line"),
    )
    return per_station.agg(
        F.concat(
            F.lit("{"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("station", "line"))),
                    lambda s: s["line"],
                ),
                ", ",
            ),
            F.lit("}"),
        ).alias("report")
    )


# --- P5 production twin: PERMISSIVE ingest with malformed-row quarantine ----

from onebrc_spark.registry import query  # noqa: E402 (scan-surface query)
from onebrc_spark.sources.catalog import load_table  # noqa: E402


@query(
    "onebrc_permissive_quarantine",
    oracle="""
    WITH lines AS (
      SELECT CASE s_suppkey % 7
               WHEN 0 THEN s_name ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
               WHEN 1 THEN s_name || ';x' ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
               WHEN 2 THEN ';' ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
               ELSE s_name || ';' ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
             END AS line
      FROM supplier
    ), parsed AS (
      SELECT line, string_split(line, ';') AS parts FROM lines
    ), classified AS (
      SELECT CASE
               WHEN len(parts) <> 2 THEN 'missing_separator'
               WHEN parts[1] = '' THEN 'empty_station'
               WHEN try_cast(parts[2] AS BIGINT) IS NULL THEN 'bad_number'
               ELSE 'ok'
             END AS status,
             CASE WHEN len(parts) = 2 THEN try_cast(parts[2] AS BIGINT) END
               AS cents
      FROM parsed
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_rows,
           sum(CASE WHEN status = 'ok' THEN cents END)
             / (100.0 * nullif(sum(CASE WHEN status = 'ok' THEN 1 END), 0))
             AS avg_ok_value
    FROM classified
    GROUP BY status ORDER BY status
    """,
    survey_ref="P5 (PERMISSIVE twin: malformed-row quarantine, not job abort)",
)
def onebrc_permissive_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5's production counterpart: the reference (and our FAILFAST reader)
    ABORTS on the first malformed line — correct for a benchmark, wrong for
    a 100 TB ingest where one corrupt shard must not kill a 6-hour job.
    This is the PERMISSIVE pattern: parse every line, route failures to a
    quarantine with a reason (missing separator / empty key / unparseable
    number), aggregate the good rows — the same classify-don't-throw shape
    as spark.read.csv(mode='PERMISSIVE') + columnNameOfCorruptRecord, but
    expressed with try_cast so the oracle replays it exactly.

    The corrupt corpus is synthesized deterministically from `supplier`
    (every 7th row loses its separator, the next gets a non-numeric value,
    the next an empty key), and values ride as integer cents so no float
    text formatting crosses the engine boundary. Narrow one-pass plan: a
    projection + single aggregation, no shuffle beyond the 4-group merge."""
    from onebrc_spark.operators.aggregates import half_away_long

    s = load_table(spark, sf_dir, "supplier")
    cents_str = half_away_long(F.col("s_acctbal") * 100).cast("string")
    line = (
        F.when(F.col("s_suppkey") % 7 == 0, F.concat(F.col("s_name"), cents_str))
        .when(
            F.col("s_suppkey") % 7 == 1,
            F.concat(F.col("s_name"), F.lit(";x"), cents_str),
        )
        .when(F.col("s_suppkey") % 7 == 2, F.concat(F.lit(";"), cents_str))
        .otherwise(F.concat(F.col("s_name"), F.lit(";"), cents_str))
    )
    parts = F.split(line, ";")
    cents = F.element_at(parts, 2).try_cast("bigint")
    classified = s.select(
        F.when(F.size(parts) != 2, "missing_separator")
        .when(F.element_at(parts, 1) == "", "empty_station")
        .when(cents.isNull(), "bad_number")
        .otherwise("ok")
        .alias("status"),
        F.when(F.size(parts) == 2, cents).alias("cents"),
    )
    ok = F.when(F.col("status") == "ok", F.col("cents"))
    n_ok = F.sum(F.when(F.col("status") == "ok", 1))
    return (
        classified.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # unrounded exact-integer ratio (registry rule: a final
            # round() diverges between engines on print-boundary doubles)
            (F.sum(ok) / (100.0 * F.nullif(n_ok, F.lit(0)))).alias(
                "avg_ok_value"
            ),
        )
        .orderBy("status")
    )
