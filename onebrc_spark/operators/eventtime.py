"""Event-time operators, batch-first (SURVEY §2.9 ST1-ST5).

The reference is pure batch; this is the declared streaming extension surface
over `events`, designed batch-first so DuckDB can oracle the semantics. The
identical transformations run under Structured Streaming via
onebrc_spark.streaming (readStream + withWatermark — demonstrated and smoke-
tested there; same logical plan, incremental execution).

Scale notes: tumbling/sliding windows are groupBy on a derived time key —
same partial/final hash-agg shape as the flagship; session windows use
Spark's native session_window (state-store-backed in streaming). Watermark
late-data drop is expressed in batch as a filter against max(ts) computed via
a scalar subquery-ish crossJoin of a 1-row aggregate (broadcast, zero cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table


def _sum_value_exact():
    """SUM(value) as exact integer cents / 100 — events.value is a 2-dp
    grid (pinned in tests/test_fixture_schemas.py's corpus contracts), so
    the cents sum is order-independent where round(sum(double), 4) carries
    partition-merge-order low bits (registry rule; shared with the
    streaming twins so stream-vs-batch comparisons are bit-exact)."""
    return (F.sum(half_away_long(F.col("value") * 100)) / F.lit(100.0)).alias(
        "sum_value"
    )



@query(
    "evt_tumbling_window",
    oracle="""
    SELECT CAST(floor(epoch(time_bucket(INTERVAL 1 HOUR, ts))) AS BIGINT)
             AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    survey_ref="ST1",
)
def evt_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (streaming twin: identical plan +
    withWatermark). Window start exported as epoch seconds (registry rule)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum_value_exact())
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "evt_sliding_window",
    oracle="""
    WITH slides AS (
      SELECT ts, value,
             CAST(floor(epoch(ts)) AS BIGINT)
               - (CAST(floor(epoch(ts)) AS BIGINT) % 900) AS last_slide
      FROM events
    ), expanded AS (
      SELECT value, last_slide - 900 * n AS window_start
      FROM slides, (SELECT unnest(range(4)) AS n)
      WHERE last_slide - 900 * n + 3600 > CAST(floor(epoch(ts)) AS BIGINT)
        AND last_slide - 900 * n <= CAST(floor(epoch(ts)) AS BIGINT)
    )
    SELECT window_start, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS sum_value
    FROM expanded GROUP BY window_start ORDER BY window_start
    """,
    survey_ref="ST2",
)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 hour wide, 15-minute slide — each event lands in 4
    windows. The DuckDB oracle reproduces Spark's window-assignment rule
    (every slide-aligned window containing ts) explicitly via unnest."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), _sum_value_exact())
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n",
            "sum_value",
        )
        .orderBy("window_start")
    )


@query(
    "evt_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             -- > (strict): a gap of exactly the 30-min threshold CONTINUES
             -- the session — Spark's merge bound is inclusive (an event at
             -- prev_ts + gap falls inside [prev_ts, prev_ts + gap] for
             -- merging). The previous `>=` here claimed the opposite and
             -- was green only because no fixture event lands exactly on
             -- the boundary; the planted-boundary property test
             -- (tests/test_properties.py::test_session_window_exact_gap_
             -- boundary) executes the equality case and pins this rule.
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    survey_ref="ST3",
)
def evt_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30-minute gap) via native session_window.
    Oracle is the classic lag→gap-flag→cumsum sessionization (SURVEY §7.3 #4:
    DuckDB has no session_window)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _sum_value_exact())
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "evt_watermark_late_drop",
    oracle="""
    WITH mx AS (SELECT max(ts) AS max_ts FROM events)
    SELECT event_type, count(*) AS n_kept
    FROM events, mx
    WHERE ts >= max_ts - INTERVAL 7 DAY
    GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="ST4",
)
def evt_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics in batch: drop events older than max(ts) - 7d.
    The 1-row max aggregate broadcasts; no second scan shuffle."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 7 DAY"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("event_type")
    )


@query(
    "evt_dedup_by_id",
    oracle="""
    SELECT count(*) AS n_unique,
           CAST(coalesce(sum(n_dupes), 0) AS BIGINT) AS n_dropped
    FROM (
      SELECT event_id, count(*) - 1 AS n_dupes
      FROM events GROUP BY event_id
    )
    """,
    survey_ref="ST5",
)
def evt_dedup_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style dedup by event_id (dropDuplicates; streaming twin is
    dropDuplicatesWithinWatermark). Reported as (unique, dropped) counts so
    the oracle is deterministic even though dropDuplicates keeps an
    arbitrary representative row."""
    ev = load_table(spark, sf_dir, "events")
    uniq = ev.dropDuplicates(["event_id"]).agg(F.count(F.lit(1)).alias("n_unique"))
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return uniq.crossJoin(total).select(
        "n_unique", (F.col("n_total") - F.col("n_unique")).alias("n_dropped")
    )


@query(
    "evt_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_view) AS did_view,
           count(CASE WHEN t_click > t_view THEN 1 END) AS view_then_click,
           count(CASE WHEN t_purchase > t_click AND t_click > t_view
                 THEN 1 END) AS full_funnel
    FROM firsts
    """,
    survey_ref="ST1/W2 (sequential funnel analysis over event time)",
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users who first viewed, later first clicked, later
    first purchased — the conversion-counting shape of product analytics.

    One hash aggregation per user computes the first occurrence of each
    stage as conditional MINs (no self-joins, no per-stage passes: N funnel
    stages are N conditional aggregates in ONE scan), then stage ordering
    is a row-local comparison. The shuffle carries 3 timestamps per user —
    at 100 TB this is the cheapest correct funnel; the alternative
    (stage-wise self-joins) shuffles the event table N times."""
    ev = load_table(spark, sf_dir, "events")

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("did_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("view_then_click"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("full_funnel"),
    )


@query(
    "evt_retention_cohorts",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ), first_wk AS (
      SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, w.week) / 7 AS INT)
             AS week_offset,
           count(*) AS n_users
    FROM wk w JOIN first_wk f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    survey_ref="ST1,A6 (cohort retention: first-seen week x activity week)",
)
def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active week, counted
    in every later week they return — the canonical product-analytics /
    corpus-freshness rollup.

    Scale: ONE shuffle of (user_id, week) pairs — the cohort week is a
    per-user window MIN over the already-shuffled partition (no second
    shuffle, no self-join), and the triangle itself is dim-sized
    (weeks x weeks). Weeks are Monday-truncated in both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    cohort = F.min("week").over(Window.partitionBy("user_id"))
    return (
        wk.select("user_id", "week", cohort.alias("cohort_week"))
        .groupBy("cohort_week", (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def _daily_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared gap-fill input: per-user day scaffold LEFT-joined with the
    observed daily averages (null on gap days). Factored from the LOCF and
    lerp twins so the quantization and scaffold logic exist once.

    Exact-integer daily metric: value is a 2-dp grid, so cent sums are
    exact BIGINTs and the quotient is bit-identical across engines —
    round(avg(value), 4) hit a round-half boundary at sf0.1 (56.35625)
    where the engines' parallel sums tie-broke differently."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (
            (
                F.sum(half_away_long(F.col("value") * 100)).cast("double")
                / F.count("value").cast("double")
            )
            / 100.0
        ).alias("day_avg")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    scaffold = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return scaffold.join(daily, ["user_id", "day"], "left")


@query(
    "evt_gap_fill_locf",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
              / CAST(count(value) AS DOUBLE)) / 100.0 AS day_avg
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ), scaffold AS (
      SELECT user_id, CAST(unnest(generate_series(d0::TIMESTAMP,
                                                  d1::TIMESTAMP,
                                                  INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ), joined AS (
      SELECT s.user_id, s.day, d.day_avg
      FROM scaffold s LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id, day,
           last_value(day_avg IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled,
           CAST(day_avg IS NULL AS INT) AS is_gap
    FROM joined ORDER BY user_id, day
    """,
    survey_ref="X10,ST1,W3,F9 (time-series gap fill: scaffold + LOCF window)",
)
def evt_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize a per-user daily series: generate the full day scaffold
    per user (F.sequence — no driver-side calendar), left-join observed
    daily averages, and forward-fill gaps with last-observation-carried-
    forward (`F.last(ignorenulls=True)` over an unbounded-preceding frame).

    Scale: the scaffold is generated (never shuffled in), the join and the
    LOCF window share the user_id partitioning, and the series length is
    bounded by the date span — the standard feature-store densification."""
    from pyspark.sql import Window

    joined = _daily_scaffold(spark, sf_dir)
    locf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "user_id",
        "day",
        F.last("day_avg", ignorenulls=True).over(locf).alias("value_filled"),
        F.col("day_avg").isNull().cast("int").alias("is_gap"),
    ).orderBy("user_id", "day")


@query(
    "evt_transition_matrix",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type ORDER BY event_type, next_type
    """,
    survey_ref="X16,W2,A6 (behavioral transition matrix: per-user lead + count)",
)
def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-to-next-event transition matrix per user (the Markov-chain
    census behind session flow analysis): one lead() window over
    (user, time) then a tiny aggregation. event_id breaks timestamp ties
    deterministically in both engines.

    Scale: one shuffle on user_id for the window; the matrix itself is
    |types|² — dim-sized. No self-join (the naive formulation) — the
    window form touches each event once."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "next_type")
    )


@query(
    "evt_gap_fill_lerp",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
              / CAST(count(value) AS DOUBLE)) / 100.0 AS day_avg
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ), scaffold AS (
      SELECT user_id, CAST(unnest(generate_series(d0::TIMESTAMP,
                                                  d1::TIMESTAMP,
                                                  INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ), joined AS (
      SELECT s.user_id, s.day, d.day_avg
      FROM scaffold s LEFT JOIN daily d USING (user_id, day)
    ), nbr AS (
      SELECT user_id, day, day_avg,
             last_value(day_avg IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN day_avg IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(day_avg IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN day_avg IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT user_id, day,
           CASE WHEN day_avg IS NOT NULL THEN day_avg
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) *
                       (CAST(date_diff('day', pd, day) AS DOUBLE)
                        / CAST(date_diff('day', pd, nd) AS DOUBLE))
           END AS value_filled,
           CAST(day_avg IS NULL AS INT) AS is_gap
    FROM nbr ORDER BY user_id, day
    """,
    survey_ref="ST1,W3,F9 (time-series gap fill: linear interpolation)",
)
def evt_gap_fill_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation twin of evt_gap_fill_locf: gaps are filled by
    the straight line between the nearest observed neighbors (LOCF answers
    "what was the state", lerp answers "what was the level" — the choice
    every feature-store densification makes). Two IGNORE NULLS window
    passes (backward value+day, forward value+day) over the same user_id
    partitioning as the scaffold join; edges degrade to nearest-neighbor.

    The lerp arithmetic is written in the identical order on both sides
    (pv + (nv-pv) * (k/m), doubles) and left UNROUNDED: every op is a
    correctly-rounded scalar on deterministic inputs, so the bits agree
    exactly — while rounding the quotient would hit half-way cases
    (x.xxxx5) where Spark's string-BigDecimal HALF_UP and DuckDB's
    binary-double round disagree (seen live: 46.94725 → .9473 vs .9472)."""
    from pyspark.sql import Window

    joined = _daily_scaffold(spark, sf_dir)
    back = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("day_avg").isNotNull(), F.col("day"))
    nbr = joined.select(
        "user_id",
        "day",
        "day_avg",
        F.last("day_avg", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(back).alias("pd"),
        F.first("day_avg", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    frac = F.datediff("day", "pd").cast("double") / F.datediff(
        "nd", "pd"
    ).cast("double")
    filled = (
        F.when(F.col("day_avg").isNotNull(), F.col("day_avg"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return nbr.select(
        "user_id",
        "day",
        filled.alias("value_filled"),
        F.col("day_avg").isNull().cast("int").alias("is_gap"),
    ).orderBy("user_id", "day")

@query(
    "evt_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL
    ), mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_values,
           max(d.med) AS med,
           max(a.mad) AS mad,
           CAST(coalesce(sum(CASE WHEN d.adev > 3 * a.mad THEN 1 END), 0)
             AS BIGINT) AS n_anomalies,
           CAST(coalesce(sum(CASE WHEN d.adev > 3 * a.mad
                   THEN CAST(round(d.value * 100) AS BIGINT) END), 0)
             AS BIGINT) AS anom_cents
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    survey_ref="X16b (robust anomaly flags: median/MAD, the outlier-proof 3-sigma)",
)
def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection: flag values whose absolute
    deviation from the group median exceeds 3x the median absolute
    deviation (MAD). Unlike mean/stddev z-scores (udf_grouped_map_zscore),
    the median/MAD pair has a 50% breakdown point — a telemetry pipeline's
    1e9-valued poison rows move it by nothing, which is exactly why
    monitoring stacks score on MAD.

    Shape: two grouped exact medians with a broadcast join-back between
    them (the per-type median table is GROUP-BY-cardinality-sized, never
    fact-sized). Exact median = per-group sort, the stats-job contract
    (same as agg_equidepth_histogram); the streaming-scale variant swaps
    in approx_percentile(0.5) with identical plumbing. All-constant groups
    get mad=0 and flag nothing (adev > 0 is false for every member);
    zero-division never arises — no ratios at all."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = (
        e.filter(F.col("value").isNotNull())
        .join(F.broadcast(med), "event_type")
        .withColumn("adev", F.abs(F.col("value") - F.col("med")))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    d = dev.join(F.broadcast(mad), "event_type")
    is_anom = F.col("adev") > 3 * F.col("mad")
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.coalesce(F.sum(F.when(is_anom, 1)), F.lit(0))
            .cast("long")
            .alias("n_anomalies"),
            F.coalesce(
                F.sum(
                    F.when(is_anom, half_away_long(F.col("value") * 100))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("anom_cents"),
        )
        .orderBy("event_type")
    )



@query(
    "evt_stateful_running_stats",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           max(value) AS max_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    survey_ref="ST6 (arbitrary stateful operator — oracle over final state)",
)
def evt_stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 with a full DuckDB oracle (upgrading the last by-design
    oracle-less §2 row): the arbitrary-stateful streaming pipeline
    (per-user running (count, max) via applyInPandasWithState, the same
    state machine `streaming/pipelines.py:stream_running_user_stats`
    demos) is driven to completion over the finite parquet source, and
    the FINAL state per key is recovered from the update-mode output —
    n_events and max_value are both monotone under state folds, so the
    final state is the per-key max over every emitted update row,
    regardless of how the file source split micro-batches. The oracle is
    the batch aggregate the folded state must equal: count(*)/max(value)
    per user over non-NULL values (the NULL filter is applied symmetrically
    — pandas .max() skips NaN, SQL max skips NULL, but a user with ONLY
    NULL values would otherwise emit a sentinel row Spark-side and no row
    oracle-side).

    transformWithStateInPandas (the Spark 4 successor API) expresses the
    identical processor — `stream_user_stats_tws` — and since r9 is
    EXECUTED and equality-tested against the batch aggregate in
    tests/test_stateful_streaming.py (the vendored-protobuf fixture,
    VERDICT r8 #4).

    Scale: state is two scalars per user in the state store (RocksDB in
    production), partitioned by the grouping key; the one shuffle is the
    groupBy(user_id) state partitioning. The memory-sink replay is the
    test harness — a production job writes the update stream to a sink
    and reads final state from the store via the state reader.

    Build-time execution caveat: constructing this DataFrame RUNS the
    streaming job to completion (start → processAllAvailable → stop) —
    there is no lazy handle to a finished stream's output. This is the
    storage-op precedent (gen_plan_census's NOTE: those execute their
    /tmp writes at build time too). The finished run is memoized per
    (applicationId, sf_dir) — VERDICT r8 #5: registry-wide sweeps
    (plan census, lints, fullsweep) build this DataFrame many times per
    session and were paying the ~2 s streaming execution every build;
    the memory-sink replay is deterministic for a fixed input directory,
    so rebuilds return the same aggregate over the already-materialized
    sink view. The LRU bound keeps multi-directory sessions at two live
    sink frames (the bench warmup/measured pair)."""
    from onebrc_spark.streaming.pipelines import (
        read_events_stream,
        run_to_completion,
        stream_running_user_stats,
    )

    import hashlib

    memo_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _STATEFUL_STATS_CACHE.get(memo_key)
    if cached is not None:
        return cached

    stream = read_events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    # Sink name suffixed per sf_dir (ADVICE r7): a second build in the same
    # session against a DIFFERENT directory must not replace the temp view
    # a previously returned DataFrame was resolved against; same-dir
    # rebuilds replace a view with identical content, which is benign.
    sink = run_to_completion(
        stream_running_user_stats(stream),
        "evt_stateful_running_stats_sink_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
        spark,
        mode="update",
    )
    out = (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
        .orderBy("user_id")
    )
    _STATEFUL_STATS_CACHE.put(memo_key, out)
    return out


@query(
    "evt_stateful_running_stats_tws",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           max(value) AS max_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
    survey_ref="ST6 (arbitrary stateful operator on the Spark 4 "
    "transformWithStateInPandas API; legacy-API fallback where protobuf "
    "is unavailable)",
)
def evt_stateful_running_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 on the SUCCESSOR API (r9): the same per-user running
    (count, max) state machine expressed as a transformWithStateInPandas
    StatefulProcessor with typed ValueState — driven to completion over
    the finite source and hash-verified against the identical batch
    oracle as the legacy-API query above (the two processors are
    equality-tested against each other by execution in
    tests/test_stateful_streaming.py).

    Environment degrade: the TWS state-server protocol needs
    google.protobuf, which session.get_spark vendors from the host's
    Cloud SDK when no site-package exists (streaming/protobuf_compat.py).
    On a host with neither, this query runs the SEMANTICALLY IDENTICAL
    legacy applyInPandasWithState processor instead — same state machine,
    same update-mode emissions, same oracle — so the registered surface
    stays green everywhere while proving the Spark 4 API wherever the
    runtime allows (which includes this container).

    Scale: identical to evt_stateful_running_stats — two scalars per key
    in the (RocksDB) state store, one shuffle on the grouping key. Same
    build-time-execution caveat and per-(app, sf_dir) memo."""
    from onebrc_spark.streaming.pipelines import (
        read_events_stream,
        run_to_completion,
        stream_running_user_stats,
        stream_user_stats_tws,
    )
    from onebrc_spark.streaming.protobuf_compat import tws_available

    import hashlib

    memo_key = (spark.sparkContext.applicationId, sf_dir, "tws")
    cached = _STATEFUL_STATS_CACHE.get(memo_key)
    if cached is not None:
        return cached

    pipeline = stream_user_stats_tws if tws_available() else stream_running_user_stats
    stream = read_events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    sink = run_to_completion(
        pipeline(stream),
        "evt_stateful_tws_sink_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
        spark,
        mode="update",
    )
    out = (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
        .orderBy("user_id")
    )
    _STATEFUL_STATS_CACHE.put(memo_key, out)
    return out


# Bounded memo for the finished-stream result frames (VERDICT r8 #5). The
# values are plain DataFrames over the materialized memory-sink view (not
# persisted), so LRU eviction's unpersist is a harmless no-op — the bound
# exists to drop references in long multi-directory sessions. maxsize 4:
# the legacy and TWS ST6 queries × the bench warmup/measured directory pair.
from onebrc_spark.operators.memo import PersistedLRU  # noqa: E402

_STATEFUL_STATS_CACHE = PersistedLRU(maxsize=4)
