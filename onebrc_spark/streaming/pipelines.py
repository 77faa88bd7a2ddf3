"""Structured Streaming twins of the batch event-time operators (SURVEY §2.9).

Same logical transformations as operators/eventtime.py, executed
incrementally: readStream over the events parquet → watermarked windowed
aggregation / dedup / stateful session tracking → memory sink (tests) or any
production sink. The batch operators are the oracle-checked semantics; these
wrappers prove the identical plans run under the streaming engine (driver:
ST1-ST6; ST6 applyInPandasWithState is demo-only per SURVEY §7.3).

Scale notes: in production the source is Kafka/files with trigger-based
micro-batches; state (windows, sessions, dedup keys) lives in the
RocksDB/HDFS-backed state store partitioned by the grouping key, and the
watermark bounds state size — exactly why every aggregation here carries
`withWatermark` even though the parquet smoke source is finite.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.operators.eventtime import _sum_value_exact
from onebrc_spark.operators.memo import checkpoint, release
from onebrc_spark.sources import catalog


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet (one-file-per-trigger smoke
    source; swap `.format("kafka")` in production — the plan is unchanged).

    The ts unit handling lives in ONE place — sources/catalog.py sniffs the
    parquet footer and normalize_events_ts applies the matching conversion —
    so a testdata regeneration cannot desynchronize batch and streaming.
    """
    # File streaming sources need a DIRECTORY. Two fixture layouts exist:
    # the driver's testdata ships events.parquet as a single FILE inside
    # the sf dir (stream the sf dir, pathGlobFilter picks the file), while
    # Spark-written fixtures (the adversarial edge suites) make it a
    # DIRECTORY of part files (stream that directory — a glob filter on
    # the PARENT can never match leaf files under a subdirectory name).
    import os

    ev_path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(catalog.events_read_schema(sf_dir)).option(
        "maxFilesPerTrigger", 1
    )
    if os.path.isdir(ev_path):
        raw = reader.parquet(ev_path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    # same non-finite→NULL measurement boundary as the batch catalog
    # (catalog.finite_or_null) so batch/stream twins see identical values
    return catalog.normalize_events_ts(raw, sf_dir).withColumn(
        "value", catalog.finite_or_null(F.col("value"))
    )


def stream_tumbling_counts(events: DataFrame) -> DataFrame:
    """ST1 streaming twin of evt_tumbling_window (+ watermark)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum_value_exact())
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_session_windows(events: DataFrame) -> DataFrame:
    """ST3 streaming twin of evt_session_window (native session_window +
    watermark; state store merges open sessions per user)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """ST5: watermarked streaming dedup — state holds event_ids only within
    the watermark horizon, so state is bounded."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_STATE_SCHEMA = "user_id long, n_events long, max_value double"


def stream_running_user_stats(events: DataFrame) -> DataFrame:
    """ST6 arbitrary stateful operator (demo, no oracle — SURVEY §7.3 #6):
    per-user running (count, max) maintained via applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            _STATE_SCHEMA,
            "n_events long, max_value double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_to_completion(
    stream_df: DataFrame, query_name: str, spark: SparkSession, mode: str = "complete"
) -> DataFrame:
    """Drive a (finite-source) streaming query to completion into a memory
    sink and return the materialized result — the smoke-test harness.
    mode: "complete" for aggregations, "append"/"update" for row streams."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def _is_missing_path(exc: Exception) -> bool:
    """True only for 'target does not exist yet' analysis errors — the one
    condition a foreachBatch merge may treat as empty state. Any OTHER read
    failure (schema corruption, a half-deleted target from a crashed
    overwrite) must fail the batch instead of silently resetting state."""
    err_class = None
    for attr in ("getCondition", "getErrorClass"):
        get = getattr(exc, attr, None)
        if get is not None:
            try:
                err_class = get()
                break
            except Exception:
                pass
    return (err_class == "PATH_NOT_FOUND") or (
        err_class is None and "Path does not exist" in str(exc)
    )


def stream_foreach_batch_upsert(events: DataFrame, target_dir: str) -> None:
    """foreachBatch keyed upsert: streaming aggregation merged into a parquet
    target per micro-batch — the pattern for sinks without native streaming
    support (JDBC, key-value stores, plain parquet/ORC). In production the
    merge body is one `MERGE INTO` on Delta/Iceberg; here it is expressed
    with the same semantics as a keyed anti-join + union over parquet.

    Exactly-once: foreachBatch is at-least-once, but the merge is keyed and
    idempotent (same batch replayed → same target state), which upgrades the
    pipeline to effectively-once; `epoch_id` is available for sinks that
    dedup by transaction id instead. State note: outputMode("update") emits
    only keys whose aggregate changed in the batch, so the merge touches
    O(changed keys), not O(all keys)."""
    totals = (
        events.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sum_value_exact(),
        )
    )

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            current = s.read.parquet(target_dir)
            merged = current.join(
                batch_df.select("event_type"), "event_type", "left_anti"
            ).unionByName(batch_df)
        except AnalysisException as e:  # first batch: target doesn't exist yet
            if not _is_missing_path(e):
                raise
            merged = batch_df
        # Materialize BEFORE overwriting the path we just read from —
        # otherwise the lazy plan would scan a target it is deleting.
        merged = checkpoint(merged, eager=True)
        merged.write.mode("overwrite").parquet(target_dir)
        release(merged)

    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", target_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_enrich_static(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a batch dimension
    (the feature-lookup / metadata-tagging step of an ingest pipeline). The
    static side is re-read per micro-batch (picking up dim updates) and
    broadcast when small — no stream-side state is kept, so this is the
    cheapest streaming join and should be preferred over stream-stream
    whenever one side is slowly-changing."""
    return events.join(F.broadcast(user_dim), "user_id").select(
        "event_id", "ts", "user_id", "cohort", "event_type", "value"
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the documents parquet (the 'crawl batch lands
    as files' production shape; maxFilesPerTrigger makes each file one
    micro-batch). Same dual fixture layout as read_events_stream: the
    driver ships documents.parquet as a single FILE in the sf dir (glob
    filter on the parent), Spark-written fixtures make it a DIRECTORY of
    part files (stream that directory — a glob filter on the parent can
    never match leaf files under a subdirectory name)."""
    import os

    from onebrc_spark.sources.catalog import _read_schema

    reader = spark.readStream.schema(_read_schema(sf_dir, "documents")).option(
        "maxFilesPerTrigger", 1
    )
    doc_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(doc_path):
        return reader.parquet(doc_path)
    return reader.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)


def stream_incremental_admission(
    new_docs: DataFrame, corpus: DataFrame
) -> DataFrame:
    """Streaming twin of operators/incremental.py's EXACT admission gate:
    each micro-batch of crawled documents is anti-joined on content digest
    against the STANDING corpus (static side), emitting only admitted docs.

    This is the production deployment shape of incremental dedup: the batch
    operator (dedup_incremental_admission) is the oracle-checked semantics;
    this proves the same gate runs continuously under the streaming engine.
    The static side is a digest-only projection — text never crosses the
    stream-static join, and the join is stateless (no watermark needed:
    stream-static joins keep no stream-side state), so state size is zero
    regardless of how long the ingest runs. The near-dup LSH gate would
    compose the same way, against a static table of the corpus's band keys
    (dedup._band_keys_sqlx) refreshed per epoch; it is not built here.
    """
    corpus_digests = corpus.select(F.md5("text").alias("digest")).distinct()
    return (
        new_docs.withColumn("digest", F.md5("text"))
        .join(corpus_digests, "digest", "left_anti")
        .select("doc_id", "source", F.length("text").alias("n_chars"))
    )


def stream_cms_fold(docs: DataFrame, target_dir: str) -> None:
    """foreachBatch count-min fold: each micro-batch of documents is
    sketched (aggregates.cms_cells) and cell-wise summed into a running
    2048-cell parquet state — the streaming deployment of the sketch's
    mergeability (agg_cms_heavy_hitters' production claim: daily deltas
    ship ~2 KB each and fold at constant state). At-least-once replay of a
    batch would double its counts, so production dedups by epoch_id before
    folding; availableNow + checkpoint gives effectively-once here."""
    from onebrc_spark.operators.aggregates import cms_cells

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        from pyspark.errors.exceptions.captured import AnalysisException

        delta = cms_cells(batch_df)
        try:
            current = s.read.parquet(target_dir)
            merged = (
                current.unionByName(delta)
                .groupBy("d", "bucket")
                .agg(F.sum("cell").cast("long").alias("cell"))
            )
        except AnalysisException as e:  # first batch: no state yet
            if not _is_missing_path(e):
                raise
            merged = delta
        # Materialize BEFORE overwriting the path we just read from.
        merged = checkpoint(merged, eager=True)
        merged.write.mode("overwrite").parquet(target_dir)
        release(merged)

    q = (
        docs.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", target_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stream_interval_join(
    views: DataFrame, clicks: DataFrame
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    click attributed to a view by the same user within [0, 30 min). BOTH
    sides are watermarked — that is what lets the engine discard buffered
    rows once no future match is possible; an un-watermarked stream-stream
    join grows state forever. The interval bound (not equality on a window
    column) is the attribution-join shape."""
    v = views.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.withWatermark("ts", "2 hours").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.unix_timestamp("view_ts").alias("view_epoch"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
    )


def stream_user_stats_tws(events: DataFrame) -> DataFrame:
    """ST6 on the Spark 4 transformWithStateInPandas API: per-user running
    (count, max) via a StatefulProcessor with typed ValueState — the
    successor to applyInPandasWithState (stream_running_user_stats is the
    legacy-API twin). The handle exposes composable state primitives
    (value/list/map state, timers, TTL) instead of one opaque tuple; state
    still lives in the per-key state store, so scale-out is by key exactly
    as before.

    Environment gate: the TWS state-server protocol needs `google.protobuf`.
    Since r9 the test fixture vendors the Cloud SDK's pure-Python protobuf
    through an isolated namespace dir (tests/conftest.py
    _ensure_vendored_protobuf — nothing installed), so this processor is
    EXECUTED and equality-tested against the batch aggregate
    (tests/test_stateful_streaming.py); on hosts with neither a protobuf
    site-package nor the SDK, the execution test skips and the plan-builds
    test still pins the declaration path."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # transformWithState requires the RocksDB state store provider (its
    # column-family state layout isn't supported by the default HDFS-backed
    # store); RocksDB is also what you'd run in production for state this
    # shape — changelog-checkpointed, spill-to-disk, O(state) not O(heap).
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", "n LONG, mx DOUBLE")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, mx = self._stats.get() if self._stats.exists() else (0, float("-inf"))
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
            self._stats.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningStats(),
        outputStructType="user_id long, n_events long, max_value double",
        outputMode="Update",
        timeMode="None",
    )


def read_orders_changes_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming change feed for the SCD2 maintainer: orders as CDC records
    (key=custkey, ts=o_orderdate, seq=o_orderkey, status) — the same
    derivation the batch cdc_scd2_history query uses."""
    from onebrc_spark.sources.catalog import _read_schema

    raw = (
        spark.readStream.schema(_read_schema(sf_dir, "orders"))
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    return raw.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderstatus").alias("status"),
    )


def scd2_merge_batch(batch_df: DataFrame, target_dir: str) -> None:
    """One SCD2 maintenance merge: fold a batch of change records
    (key, ts, seq, status) into the versioned-history parquet at
    `target_dir`. The foreachBatch body of stream_scd2_maintain, exposed as
    a plain function so tests (and backfills) can drive batches directly.

    Merge contract (in-order CDC: per key, batches arrive in ts order —
    the upstream log's guarantee; equal-ts records must share a batch):

      - closed versions are immutable — never rescanned per-row, only
        unioned through;
      - only keys TOUCHED by the batch are recomputed: their open row
        re-enters the SCD2 core as a pseudo-change (seq = -1, sorting
        before any real record at the same ts) together with the batch's
        fresh records; untouched keys' open rows pass through unchanged —
        the merge is O(changed keys), not O(history);
      - records at or before a key's open valid_from are STALE and
        dropped (a replayed or duplicate delivery — STRICTLY newer is
        required because the delivery contract puts equal-ts records in
        ONE batch, so anything ≤ the open timestamp was already
        incorporated; a ≥ filter would re-admit the open-boundary records
        of a replayed batch and mint spurious versions). Stale-drop makes
        the merge idempotent: at-least-once foreachBatch delivery
        upgrades to effectively-once, same as stream_foreach_batch_upsert;
      - version numbers continue per key (open version - 1 carries over as
        the offset), so the maintained history is exactly what the batch
        operator would compute over the full concatenated change log —
        asserted by tests/test_streaming.py against cdc_scd2_history.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    from onebrc_spark.operators.cdc import scd2_from_changes

    s = batch_df.sparkSession
    batch = batch_df.select("key", "ts", "seq", "status")
    closed = open_rows = None
    try:
        current = s.read.parquet(target_dir)
        closed = current.filter(F.col("valid_to").isNotNull())
        open_rows = current.filter(F.col("valid_to").isNull())
    except AnalysisException as e:  # first batch: no history yet
        if not _is_missing_path(e):
            raise

    if open_rows is None:
        candidates = batch
        hist = scd2_from_changes(candidates, key="key", ts="ts", seq="seq",
                                 status="status")
        result = hist
    else:
        touched = batch.select("key").distinct()
        open_touched = open_rows.join(touched, "key", "semi")
        open_rest = open_rows.join(touched, "key", "left_anti")
        fresh = (
            batch.join(
                open_touched.select("key", F.col("valid_from").alias("_open_from")),
                "key",
                "left",
            )
            .filter(F.col("_open_from").isNull() | (F.col("ts") > F.col("_open_from")))
            .drop("_open_from")
        )
        pseudo = open_touched.select(
            "key",
            F.col("valid_from").alias("ts"),
            F.lit(-1).cast("long").alias("seq"),
            "status",
        )
        offsets = open_touched.select("key", (F.col("version") - 1).alias("_voff"))
        hist = scd2_from_changes(
            pseudo.unionByName(fresh), key="key", ts="ts", seq="seq", status="status"
        )
        renumbered = (
            hist.join(offsets, "key", "left")
            .select(
                "key",
                (F.col("version") + F.coalesce("_voff", F.lit(0)))
                .cast("long")
                .alias("version"),
                "status",
                "valid_from",
                "valid_to",
                "is_current",
            )
        )
        result = closed.unionByName(renumbered).unionByName(open_rest)

    # Materialize BEFORE overwriting the path we just read from.
    result = checkpoint(result, eager=True)
    result.write.mode("overwrite").parquet(target_dir)
    release(result)


def stream_scd2_maintain(changes: DataFrame, target_dir: str) -> None:
    """Streaming SCD type-2 maintenance: each micro-batch of CDC records
    folds into the versioned validity-interval history via
    scd2_merge_batch — the continuous deployment shape of the batch
    cdc_scd2_history operator, completing the CDC quadrant (batch/stream ×
    SCD1/SCD2). In production the merge body is a MERGE INTO on
    Delta/Iceberg keyed on (key, version); parquet-overwrite expresses the
    same semantics here."""
    q = (
        changes.writeStream.outputMode("append")
        .foreachBatch(lambda df, _epoch: scd2_merge_batch(df, target_dir))
        .option("checkpointLocation", target_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_token_budget_admit(docs: DataFrame) -> DataFrame:
    """Streaming twin of mlprep.ml_token_budget's admission gate: per-source
    token budgets enforced ONLINE with applyInPandasWithState — the state is
    one integer per source (the running token sum), so state size is
    O(#sources) forever, independent of stream length.

    Semantics match the batch operator exactly when ingest order is
    doc_id-monotone across micro-batches (the crawl-append production
    shape; within a batch the update sorts by doc_id): the batch op keeps
    docs while the doc_id-ordered running sum stays ≤ budget, and because
    n_tokens ≥ 0 that sum is monotone — so the admitted set is the same
    prefix whether computed in one pass (batch) or folded per micro-batch
    (here). The running sum advances on REJECTED docs too, mirroring the
    batch cum; emitted rows are only the admitted ones.

    Scale notes: token counting stays a JVM expression BEFORE the stateful
    op (the Python worker sees (source, doc_id, n_tokens) — never text);
    the one shuffle is the groupBy(source) state partitioning, the same
    key the batch window clusters on."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from onebrc_spark.operators.mlprep import _TOKEN_BUDGET

    n_tokens = (
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens")
    )
    enriched = docs.select("source", "doc_id", n_tokens)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cum = state.get[0] if state.exists else 0
        out: dict[str, list] = {"source": [], "doc_id": [], "n_tokens": [], "cum_tokens": []}
        chunks = list(pdfs)
        if not chunks:
            # a timed-out key arrives with NO data; safe today only because
            # NoTimeout never times out — guard so adding a state timeout
            # later cannot crash the query on pd.concat([]) (ADVICE r6)
            state.update((cum,))
            yield pd.DataFrame(out)
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        for doc_id, n in zip(batch["doc_id"], batch["n_tokens"]):
            cum += int(n)
            if cum <= _TOKEN_BUDGET:
                out["source"].append(key[0])
                out["doc_id"].append(int(doc_id))
                out["n_tokens"].append(int(n))
                out["cum_tokens"].append(cum)
        state.update((cum,))
        yield pd.DataFrame(out)

    return enriched.groupBy("source").applyInPandasWithState(
        update,
        "source string, doc_id long, n_tokens long, cum_tokens long",
        "cum_tokens long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
