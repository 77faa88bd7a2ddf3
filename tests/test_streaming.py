"""Structured Streaming smoke tests (SURVEY §2.9): the streaming twins run
the batch-oracled plans under the incremental engine and agree with batch
results where outputMode allows a full comparison.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from onebrc_spark.operators.eventtime import _sum_value_exact
from onebrc_spark.sources.catalog import load_table
from onebrc_spark.streaming.pipelines import (
    read_events_stream,
    run_to_completion,
    stream_dedup,
    stream_session_windows,
    stream_tumbling_counts,
)
from tests.conftest import SMOKE_SF_DIR


@pytest.fixture(scope="module")
def events_stream(spark):
    return read_events_stream(spark, SMOKE_SF_DIR)


def test_stream_tumbling_matches_batch(spark, events_stream):
    got = run_to_completion(
        stream_tumbling_counts(events_stream), "t_tumbling", spark
    )
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum_value_exact())
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows == want_rows


def test_stream_sessions_run(spark, events_stream):
    got = run_to_completion(
        stream_session_windows(events_stream), "t_sessions", spark
    )
    rows = got.collect()
    assert len(rows) > 0
    assert {c for c in got.columns} == {"user_id", "session_start", "n_events"}


def test_stream_dedup_append(spark, events_stream):
    got = run_to_completion(stream_dedup(events_stream), "t_dedup", spark, mode="append")
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    assert got.count() == ev.select("event_id").distinct().count()


def test_stream_static_enrich_matches_batch_join(spark):
    """Stream-static broadcast enrichment must yield exactly the batch
    join's rows once the finite stream drains."""
    from onebrc_spark.sources.catalog import load_table
    from onebrc_spark.streaming.pipelines import (
        read_events_stream,
        run_to_completion,
        stream_enrich_static,
    )
    from tests.conftest import SF_DIR

    ev_batch = load_table(spark, SF_DIR, "events")
    user_dim = (
        ev_batch.select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 4).cast("int"))
    )
    out = run_to_completion(
        stream_enrich_static(read_events_stream(spark, SF_DIR), user_dim),
        "enrich_smoke",
        spark,
        mode="append",
    )
    assert out.count() == ev_batch.count()
    batch_sum = ev_batch.join(user_dim, "user_id").agg(
        F.sum("cohort").alias("s")
    ).collect()[0]["s"]
    assert out.agg(F.sum("cohort").alias("s")).collect()[0]["s"] == batch_sum


def test_stream_stream_interval_join_attributes_clicks(spark):
    """Stream-stream watermarked interval join: every attributed click is
    within [view_ts, view_ts + 30 min) for the same user, and the result
    equals the batch formulation of the same join."""
    from onebrc_spark.sources.catalog import load_table
    from onebrc_spark.streaming.pipelines import (
        read_events_stream,
        run_to_completion,
        stream_stream_interval_join,
    )
    from tests.conftest import SF_DIR

    views = read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "view"
    )
    clicks = read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "click"
    )
    out = run_to_completion(
        stream_stream_interval_join(views, clicks),
        "ssjoin_smoke",
        spark,
        mode="append",
    )
    n_stream = out.count()
    assert n_stream > 0
    bad = out.filter(
        (F.col("click_epoch") < F.col("view_epoch"))
        | (F.col("click_epoch") >= F.col("view_epoch") + 1800)
    ).count()
    assert bad == 0

    ev = load_table(spark, SF_DIR, "events")
    bv = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    n_batch = bv.join(
        bc,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") < F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).count()
    assert n_stream == n_batch


def test_stream_incremental_admission_matches_batch_gate(spark):
    """Stream-static anti-join admission gate: streaming the 'new batch'
    documents against the static corpus digest set must admit exactly the
    docs the batch exact-gate admits (incremental.py's gate 1), and the
    plan must keep the digest-only projection on the static side."""
    from onebrc_spark.operators.incremental import _is_new_sqlx
    from onebrc_spark.streaming.pipelines import (
        read_documents_stream,
        run_to_completion,
        stream_incremental_admission,
    )

    is_new = F.expr(_is_new_sqlx("doc_id"))
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    corpus = docs.filter(~is_new)
    new_stream = read_documents_stream(spark, SMOKE_SF_DIR).filter(is_new)
    out = run_to_completion(
        stream_incremental_admission(new_stream, corpus),
        "adm_smoke",
        spark,
        mode="append",
    )
    got = {r["doc_id"] for r in out.collect()}

    batch_new = docs.filter(is_new)
    corpus_digests = corpus.select(F.md5("text").alias("digest")).distinct()
    want = {
        r["doc_id"]
        for r in batch_new.withColumn("digest", F.md5("text"))
        .join(corpus_digests, "digest", "left_anti")
        .select("doc_id")
        .collect()
    }
    assert got == want
    assert len(want) > 0


def test_stream_cms_fold_converges_to_batch_sketch(spark, tmp_path):
    """Folding per-micro-batch count-min sketches (cell-wise sum) over a
    3-file stream must converge to the whole-corpus batch sketch — the
    mergeability claim executed under the streaming engine. Each batch
    releases its checkpoint of the merged state after writing it, so no
    RDD the batches stored remains (read without GC or waiting)."""
    from onebrc_spark.operators.aggregates import cms_cells
    from onebrc_spark.streaming.pipelines import stream_cms_fold

    docs = load_table(spark, SMOKE_SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_split")
    docs.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches

    target = str(tmp_path / "cms_state")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    stream_cms_fold(stream, target)
    left = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert not left, left

    got = {
        (r["d"], r["bucket"]): r["cell"]
        for r in spark.read.parquet(target).collect()
    }
    want = {(r["d"], r["bucket"]): r["cell"] for r in cms_cells(docs).collect()}
    assert got == want and len(want) > 0


def test_stream_foreach_batch_upsert_matches_batch(spark, tmp_path):
    from onebrc_spark.streaming.pipelines import stream_foreach_batch_upsert

    target = str(tmp_path / "evt_totals")
    stream_foreach_batch_upsert(read_events_stream(spark, SMOKE_SF_DIR), target)
    got = {
        r["event_type"]: (r["n"], r["sum_value"])
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["sum_value"])
        for r in (
            load_table(spark, SMOKE_SF_DIR, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                _sum_value_exact(),
            )
            .collect()
        )
    }
    assert got == want

    # Idempotency: re-running the whole pipeline against the same target
    # (fresh checkpoint) must converge to the same state, not double-count.
    import shutil

    shutil.rmtree(target + "_ckpt")
    stream_foreach_batch_upsert(read_events_stream(spark, SMOKE_SF_DIR), target)
    again = {
        r["event_type"]: (r["n"], r["sum_value"])
        for r in spark.read.parquet(target).collect()
    }
    assert again == want


def _scd2_rows(df):
    return sorted(
        (
            r.key,
            r.version,
            r.status,
            r.valid_from.isoformat() if r.valid_from else None,
            r.valid_to.isoformat() if r.valid_to else None,
            r.is_current,
        )
        for r in df.collect()
    )


def test_scd2_merge_batches_match_batch_operator(spark, tmp_path):
    """Folding time-sliced CDC batches through scd2_merge_batch must yield
    exactly the history the batch operator computes over the whole change
    log — and replaying the final batch must change nothing (idempotent
    at-least-once delivery)."""
    from onebrc_spark.operators.cdc import cdc_scd2_history
    from onebrc_spark.streaming.pipelines import scd2_merge_batch

    target = str(tmp_path / "scd2")
    o = load_table(spark, SMOKE_SF_DIR, "orders")
    changes = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderstatus").alias("status"),
    )
    # ts-range slices: per key, batches arrive in ts order and equal-ts
    # records share a batch — the CDC log's delivery contract.
    slices = [
        changes.filter(F.year("ts") <= 1996),
        changes.filter((F.year("ts") >= 1997) & (F.year("ts") <= 1999)),
        changes.filter(F.year("ts") >= 2000),
    ]
    assert all(s.count() > 0 for s in slices)
    for b in slices:
        scd2_merge_batch(b, target)

    def read_target(path):
        return spark.read.parquet(path).select(
            "key",
            "version",
            "status",
            F.col("valid_from").cast("date").alias("valid_from"),
            F.col("valid_to").cast("date").alias("valid_to"),
            "is_current",
        )

    want = _scd2_rows(
        cdc_scd2_history(spark, SMOKE_SF_DIR).withColumnRenamed("custkey", "key")
    )
    got = _scd2_rows(read_target(target))
    assert got == want

    # idempotence: replay the last slice
    scd2_merge_batch(slices[-1], target)
    assert _scd2_rows(read_target(target)) == want


def test_stream_scd2_maintain_wiring(spark, tmp_path):
    """The availableNow streaming run over the orders change feed lands the
    same history as the batch operator (single-file source → one batch)."""
    from onebrc_spark.operators.cdc import cdc_scd2_history
    from onebrc_spark.streaming.pipelines import (
        read_orders_changes_stream,
        stream_scd2_maintain,
    )

    target = str(tmp_path / "scd2_stream")
    stream_scd2_maintain(read_orders_changes_stream(spark, SMOKE_SF_DIR), target)
    got = _scd2_rows(
        spark.read.parquet(target).select(
            "key",
            "version",
            "status",
            F.col("valid_from").cast("date").alias("valid_from"),
            F.col("valid_to").cast("date").alias("valid_to"),
            "is_current",
        )
    )
    want = _scd2_rows(
        cdc_scd2_history(spark, SMOKE_SF_DIR).withColumnRenamed("custkey", "key")
    )
    assert got == want


def test_scd2_replay_of_equal_ts_boundary_batch_is_idempotent(spark, tmp_path):
    """Regression (round-5 review): a batch whose newest records share one
    timestamp with DIFFERENT statuses, replayed under at-least-once
    delivery, must not mint spurious versions. The stale-drop is strict
    (ts > open valid_from): equal-ts records live in one batch by the
    delivery contract, so anything at the open boundary was already
    incorporated."""
    import datetime

    from onebrc_spark.streaming.pipelines import scd2_merge_batch

    target = str(tmp_path / "scd2_replay")
    batch = spark.createDataFrame(
        [
            (1, datetime.datetime(1995, 1, 1), 5, "O"),
            (1, datetime.datetime(1995, 1, 1), 9, "F"),
        ],
        "key LONG, ts TIMESTAMP, seq LONG, status STRING",
    )
    scd2_merge_batch(batch, target)
    first = _scd2_rows(spark.read.parquet(target))
    assert len(first) == 2  # O then F, F current
    assert sum(r[5] for r in first) == 1
    scd2_merge_batch(batch, target)  # at-least-once replay
    assert _scd2_rows(spark.read.parquet(target)) == first


def test_scd2_merge_random_streams_match_batch(spark, tmp_path):
    """Property check: for random change streams sliced into batches at
    random ts boundaries (the delivery contract: per key, batches arrive
    in ts order; equal-ts records share a batch), the maintained history
    equals the batch core over the whole log, and replaying every batch
    leaves it unchanged."""
    import datetime
    import random

    from onebrc_spark.operators.cdc import scd2_from_changes
    from onebrc_spark.streaming.pipelines import scd2_merge_batch

    rng = random.Random(20260814)
    statuses = ["O", "F", "P"]
    for trial in range(3):
        rows = []
        for key in range(1, 7):
            n = rng.randint(1, 12)
            for seq in range(n):
                rows.append(
                    (
                        key,
                        datetime.datetime(1995, 1, 1)
                        + datetime.timedelta(days=rng.randint(0, 30)),
                        seq,
                        rng.choice(statuses),
                    )
                )
        schema = "key LONG, ts TIMESTAMP, seq LONG, status STRING"
        full = spark.createDataFrame(rows, schema)
        # random ts cut points; equal-ts rows always land in one slice
        cuts = sorted(
            rng.sample(range(1, 30), rng.randint(1, 3))
        )
        bounds = (
            [datetime.datetime(1994, 1, 1)]
            + [datetime.datetime(1995, 1, 1) + datetime.timedelta(days=c) for c in cuts]
            + [datetime.datetime(1996, 12, 31)]
        )
        target = str(tmp_path / f"scd2_rand_{trial}")
        batches = []
        for lo, hi in zip(bounds, bounds[1:]):
            b = [r for r in rows if lo <= r[1] < hi]
            if b:
                batches.append(spark.createDataFrame(b, schema))
        for b in batches:
            scd2_merge_batch(b, target)
        want = _scd2_rows(scd2_from_changes(full, key="key"))
        got = _scd2_rows(spark.read.parquet(target))
        assert got == want, f"trial {trial}: merge diverged from batch core"
        for b in batches:  # replay every batch, any order of replays
            scd2_merge_batch(b, target)
        assert _scd2_rows(spark.read.parquet(target)) == want, (
            f"trial {trial}: replay changed history"
        )


def test_stream_token_budget_matches_batch_operator(spark):
    """The stateful per-source token-budget gate must admit exactly the
    docs the batch ml_token_budget window keeps: same per-source n_kept and
    kept_tokens, and the admitted running sums never exceed the budget.
    (Single-file source → doc_id order holds across batches, the
    correctness precondition documented on the twin.)"""
    from onebrc_spark.operators.mlprep import _TOKEN_BUDGET, ml_token_budget
    from onebrc_spark.streaming.pipelines import (
        read_documents_stream,
        run_to_completion,
        stream_token_budget_admit,
    )

    out = run_to_completion(
        stream_token_budget_admit(read_documents_stream(spark, SMOKE_SF_DIR)),
        "budget_smoke",
        spark,
        mode="update",
    )
    rows = out.collect()
    assert rows and all(r["cum_tokens"] <= _TOKEN_BUDGET for r in rows)
    got: dict = {}
    for r in rows:
        n, toks = got.get(r["source"], (0, 0))
        got[r["source"]] = (n + 1, toks + r["n_tokens"])
    want = {
        r["source"]: (r["n_kept"], r["kept_tokens"])
        for r in ml_token_budget(spark, SMOKE_SF_DIR).collect()
        if r["n_kept"] > 0
    }
    assert got == want


def test_stream_scd2_checkpoint_restart_resumes(spark, tmp_path):
    """Kill the SCD2 maintainer MID-STREAM and restart it from its
    checkpointLocation (VERDICT r7 #6): the crash is injected AFTER batch
    1's merge ran but BEFORE its checkpoint commit — the worst at-least-
    once window — so the restarted query must (a) replay batch 1 through
    the idempotent merge without minting versions, (b) pick up the still-
    unseen file, and (c) land exactly the batch operator's history."""
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from onebrc_spark.operators.cdc import cdc_scd2_history
    from onebrc_spark.streaming.pipelines import (
        scd2_merge_batch,
        stream_scd2_maintain,
    )

    o = load_table(spark, SMOKE_SF_DIR, "orders")
    changes = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderstatus").alias("status"),
    )
    # ts-range slices (the CDC delivery contract: per key, batches arrive
    # in ts order and equal-ts records share a batch), one FILE per slice
    # with ascending mtimes so the file source streams them in order.
    slices = [
        changes.filter(F.year("ts") <= 1996),
        changes.filter((F.year("ts") >= 1997) & (F.year("ts") <= 1999)),
        changes.filter(F.year("ts") >= 2000),
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, s in enumerate(slices):
        stage = tmp_path / f"stage{i}"
        s.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        dest = src / f"slice{i}.parquet"
        part.rename(dest)
        os.utime(dest, (1_000_000 + i * 100, 1_000_000 + i * 100))

    def read_src():
        return (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    target = str(tmp_path / "scd2_restart")
    armed = {"crash": True}

    def crash_after_merge(df, epoch):
        scd2_merge_batch(df, target)
        if epoch >= 1 and armed["crash"]:
            armed["crash"] = False
            raise RuntimeError("injected crash: merge applied, commit lost")

    q = (
        read_src()
        .writeStream.outputMode("append")
        .foreachBatch(crash_after_merge)
        .option("checkpointLocation", target + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # restart the production maintainer on the SAME target (its checkpoint
    # convention is target + "_ckpt", i.e. the one the crashed run used)
    stream_scd2_maintain(read_src(), target)

    got = _scd2_rows(
        spark.read.parquet(target).select(
            "key",
            "version",
            "status",
            F.col("valid_from").cast("date").alias("valid_from"),
            F.col("valid_to").cast("date").alias("valid_to"),
            "is_current",
        )
    )
    want = _scd2_rows(
        cdc_scd2_history(spark, SMOKE_SF_DIR).withColumnRenamed("custkey", "key")
    )
    assert got == want


def test_stream_token_budget_state_recovers_across_restart(spark, tmp_path):
    """STOP the stateful admission gate and RESTART it from its checkpoint
    (VERDICT r7 #6, state-store flavor): unlike the SCD2 test — which
    exercises foreachBatch replay idempotence — this pins real
    applyInPandasWithState STATE recovery: phase 1 streams the low-doc_id
    half of the corpus and stops; phase 2 starts a NEW query on the SAME
    checkpointLocation over the newly-arrived second half. The admitted
    union must equal the batch operator — which can only happen if each
    source's running token sum was recovered, not reset (a fixture guard
    proves reset semantics would admit a DIFFERENT set, so the equality is
    evidence of recovery, not vacuously true)."""
    from onebrc_spark.operators.mlprep import _TOKEN_BUDGET, ml_token_budget
    from onebrc_spark.streaming.pipelines import (
        read_documents_stream,
        stream_token_budget_admit,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]

    src_root = tmp_path / "corpus"
    ddir = src_root / "documents.parquet"
    ddir.mkdir(parents=True)

    def write_slice(pred, name):
        stage = tmp_path / f"stage_{name}"
        docs.filter(pred).coalesce(1).write.parquet(str(stage))
        next(stage.glob("part-*.parquet")).rename(ddir / f"{name}.parquet")

    write_slice(F.col("doc_id") < cut, "slice0")

    out_dir = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    def run_available():
        q = (
            stream_token_budget_admit(read_documents_stream(spark, str(src_root)))
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _e: df.write.mode("append").parquet(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_available()
    phase1 = spark.read.parquet(out_dir).collect()
    assert phase1, "phase 1 admitted nothing — fixture too small"

    write_slice(F.col("doc_id") >= cut, "slice1")
    run_available()  # NEW query, SAME checkpoint → state store recovery

    rows = spark.read.parquet(out_dir).collect()
    assert all(r["cum_tokens"] <= _TOKEN_BUDGET for r in rows)
    got: dict = {}
    for r in rows:
        n, toks = got.get(r["source"], (0, 0))
        got[r["source"]] = (n + 1, toks + r["n_tokens"])
    want = {
        r["source"]: (r["n_kept"], r["kept_tokens"])
        for r in ml_token_budget(spark, str(src_root)).collect()
        if r["n_kept"] > 0
    }
    assert got == want

    # Fixture guard: simulate RESET semantics (state zeroed at the cut) in
    # plain Python and require a different admitted set — otherwise the
    # equality above could hold even without recovery.
    def tok(t):
        return len([w for w in t.split(" ") if w != ""]) if t else 0

    all_rows = sorted(docs.collect(), key=lambda r: r["doc_id"])
    true_adm, reset_adm = set(), set()
    for reset, adm in ((False, true_adm), (True, reset_adm)):
        cum: dict = {}
        seen_cut: dict = {}
        for r in all_rows:
            s = r["source"]
            if reset and r["doc_id"] >= cut and not seen_cut.get(s):
                cum[s] = 0
                seen_cut[s] = True
            cum[s] = cum.get(s, 0) + tok(r["text"])
            if cum[s] <= _TOKEN_BUDGET:
                adm.add(r["doc_id"])
    assert true_adm != reset_adm, (
        "fixture cannot distinguish recovered state from reset state — "
        "move the cut or grow the corpus"
    )
