"""PersistedLRU: the bounded memo behind the pair-set / component-label
caches (VERDICT r6 #7). Pins the one property that matters: a session that
walks more sf_dirs than `maxsize` releases what the evicted entries hold,
so executor storage is O(maxsize), never O(#directories).

Stored RDDs are read from SparkContext.getPersistentRDDs, which changes
synchronously with persist, checkpoint and release; no test here waits for
or triggers GC."""

from __future__ import annotations

import os

import pytest
from pyspark import StorageLevel

from onebrc_spark.operators.memo import PersistedLRU, checkpoint, persist_for_build
from tests.conftest import SMOKE_SF_DIR


def _persisted(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _stored(spark) -> set[int]:
    """Ids of every RDD in block storage (persists and checkpoints)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _rdd_id(df) -> int:
    """The block-storage RDD id behind a frame `checkpoint` returned."""
    return df._jdf.logicalPlan().rdd().id()


def test_lru_evicts_and_unpersists_on_capacity(spark):
    lru = PersistedLRU(maxsize=2)
    a = spark.range(3).persist()
    b = spark.range(4).persist()
    c = spark.range(5).persist()
    for df in (a, b, c):
        df.count()  # materialize the persist
    lru.put("a", a)
    lru.put("b", b)
    assert _persisted(a) and _persisted(b)
    lru.put("c", c)  # third key: evicts LRU entry "a" and unpersists it
    assert not _persisted(a), "evicted entry must be unpersisted"
    assert _persisted(b) and _persisted(c)
    assert lru.get("a") is None
    assert lru.get("b") is b and lru.get("c") is c
    lru.clear()
    assert not _persisted(b) and not _persisted(c)
    assert len(lru) == 0


def test_lru_recency_order_protects_hot_entry(spark):
    lru = PersistedLRU(maxsize=2)
    a = spark.range(3).persist()
    b = spark.range(4).persist()
    c = spark.range(5).persist()
    for df in (a, b, c):
        df.count()
    lru.put("a", a)
    lru.put("b", b)
    lru.get("a")  # touch: "b" becomes LRU
    lru.put("c", c)
    assert _persisted(a), "recently-read entry must survive eviction"
    assert not _persisted(b), "least-recently-used entry must be evicted"
    lru.clear()


def test_get_or_build_persists_once_and_releases_a_failed_build(spark):
    """PersistedLRU.get_or_build owns the memo lifecycle: a miss persists
    and materializes build() once and stores it, a hit returns the stored
    frame without calling build, and a build whose materialization fails
    is unpersisted and never stored."""
    lru = PersistedLRU(maxsize=2)
    calls = []

    def build():
        calls.append(1)
        return spark.range(6)

    first = lru.get_or_build("k", build)
    assert _persisted(first) and len(calls) == 1
    assert lru.get_or_build("k", build) is first and len(calls) == 1

    failed = []

    def bad_build():
        df = spark.range(3).selectExpr("raise_error('planted') AS x")
        failed.append(df)
        return df

    with pytest.raises(Exception, match="planted"):
        lru.get_or_build("bad", bad_build)
    assert "bad" not in lru
    assert not _persisted(failed[0]), "failed build must be unpersisted"
    lru.clear()


def test_entry_owns_build_checkpoints_and_drops_build_persists(spark):
    """A build's checkpoints stay with its entry (the persisted result's
    lineage reads them) until the entry goes; a persist_for_build frame is
    released once the count is done; a nested build owns its own frames,
    and its twin entry holds the twin alone."""
    lru, inner_lru = PersistedLRU(maxsize=2), PersistedLRU(maxsize=2)
    made = {}

    def inner():
        made["inner_ckpt"] = checkpoint(spark.range(5), eager=False)
        return made["inner_ckpt"].selectExpr("id + 100 AS id")

    def build():
        made["ckpt"] = checkpoint(spark.range(7), eager=False)
        made["scratch"] = persist_for_build(spark.range(9))
        made["nested"] = inner_lru.get_or_build("n", inner, twin=True)
        return made["ckpt"].union(made["nested"])

    out = lru.get_or_build("k", build)
    assert out.count() == 12
    stored = _stored(spark)
    assert _persisted(out) and _rdd_id(made["ckpt"]) in stored
    assert not _persisted(made["scratch"])
    assert _rdd_id(made["inner_ckpt"]) not in stored
    assert _rdd_id(made["nested"]) in stored
    lru.clear()
    stored = _stored(spark)
    assert not _persisted(out) and _rdd_id(made["ckpt"]) not in stored
    assert _rdd_id(made["nested"]) in stored, "owned by the inner memo"
    inner_lru.clear()
    assert _rdd_id(made["nested"]) not in _stored(spark)
    with pytest.raises(RuntimeError):
        persist_for_build(spark.range(1))


def test_get_or_build_under_contention_releases_every_build(spark):
    """More threads than cores cold-build the same six keys at once (each
    thread starts at a different key; even keys take the twin path), with
    a short switch interval. The lock around check-and-put must keep every
    build either stored or released: each key ends with one entry, every
    handed-out frame reads its rows, and after clear() no RDD the builds
    stored remains. The memo is sized to hold every key: evicting a frame
    another thread is still reading is outside the memo's contract."""
    import itertools
    import sys
    from concurrent.futures import ThreadPoolExecutor

    lru = PersistedLRU(maxsize=6)
    before = _stored(spark)
    # a distinct literal per build keeps the builds' plans apart: Spark's
    # cache holds one entry per plan, shared by equal plans
    build_ids = itertools.count()

    def worker(w: int) -> int:
        n = 0
        for i in range(6):
            k = (w + i) % 6
            n += lru.get_or_build(
                k,
                lambda: spark.range(k + 1).selectExpr(f"id + {next(build_ids)}"),
                twin=k % 2 == 0,
            ).count()
        return n

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(worker, w) for w in range(8)]
            counts = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert counts == [21] * 8
    assert len(lru) == 6
    lru.clear()
    left = _stored(spark) - before
    assert not left, left


def test_memo_builds_leave_only_their_entries_stored(spark):
    """Cold builds of the three memo users (MinHash pairs, component labels,
    sampled IVF cells), twice, with the clear hooks between: the small pair
    entry is one stored RDD (its twin), and after the clears no RDD the
    builds stored remains. The releases do not depend on GC timing, so
    the test neither triggers GC nor waits."""
    from onebrc_spark.operators import similarity as sim
    from onebrc_spark.operators.clustering import (
        clear_components_cache,
        cluster_labels,
    )
    from onebrc_spark.operators.dedup import clear_pair_cache, minhash_pairs

    def clear():
        clear_pair_cache()
        clear_components_cache()
        sim.clear_ivf_cache()

    clear()
    for _ in range(2):
        before = _stored(spark)
        minhash_pairs(spark, SMOKE_SF_DIR).count()
        added = _stored(spark) - before
        assert len(added) == 1, added
        cluster_labels(spark, SMOKE_SF_DIR).count()
        sim.sim_ann_ivf_sampled(spark, SMOKE_SF_DIR).count()
        assert len(_stored(spark) - before) > 1
        clear()
        left = _stored(spark) - before
        assert not left, left


def test_query_transient_checkpoint_stays_until_gc(spark):
    """The accepted failure mode of memo.checkpoint: outside a memo build
    a checkpoint is a query transient that no entry owns, released only
    by Spark's ContextCleaner after the JVM collects the query's frame.
    Building text_boilerplate_segments stores exactly one RDD (its lazy
    checkpoint of the segment stream registers when it is built), and it
    is still stored after the query has run."""
    from onebrc_spark.operators.curation import text_boilerplate_segments

    before = _stored(spark)
    df = text_boilerplate_segments(spark, SMOKE_SF_DIR)
    added = _stored(spark) - before
    assert len(added) == 1, added
    df.collect()
    assert added <= _stored(spark)


@pytest.mark.parametrize("twin", [False, True])
def test_release_under_a_planned_reader(spark, twin):
    """The accepted failure mode of PersistedLRU (its docstring): releasing
    an entry while a query over its frame is already planned. A persisted
    entry's query still runs, and Spark stores the released cache buffers
    again as an RDD no entry owns; a twin entry's query fails instead."""
    lru = PersistedLRU(maxsize=2)
    frame = lru.get_or_build(
        "k", lambda: spark.range(40).selectExpr("id % 4 AS g", "id"), twin=twin
    )
    query = frame.groupBy("g").count()
    query._jdf.queryExecution().executedPlan()  # planned over the entry
    lru.clear()
    before = _stored(spark)
    if twin:
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            query.collect()
        assert _stored(spark) == before
        return
    assert sorted(query.collect()) == [(g, 10) for g in range(4)]
    unowned = _stored(spark) - before
    assert len(unowned) == 1, unowned
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in unowned:
        rdds.get(rdd_id).unpersist(False)


def test_operator_caches_are_bounded():
    """The two production memos carry the documented 2-entry bound (the
    bench warmup + measured directories — see memo.py's module docstring)."""
    from onebrc_spark.operators.clustering import _COMPONENTS_CACHE
    from onebrc_spark.operators.dedup import _MINHASH_PAIRS_CACHE

    assert isinstance(_MINHASH_PAIRS_CACHE, PersistedLRU)
    assert isinstance(_COMPONENTS_CACHE, PersistedLRU)
    assert _MINHASH_PAIRS_CACHE._maxsize == 2
    assert _COMPONENTS_CACHE._maxsize == 2


def test_register_views_memoized_and_invalidated_on_sf_switch(spark, monkeypatch):
    """register_views (round 10) registers once per (session, sf_dir): a
    repeat call with the SAME sf_dir is a no-op (the per-query fixed cost
    the SQL surface used to pay ~30x per drive), while a call with a
    DIFFERENT sf_dir re-registers — the bench warmup alternates
    sf0.001/sf0.1 per query, so missing invalidation would silently serve
    the wrong scale's views."""
    from onebrc_spark.sources import catalog

    calls = []
    real = catalog.load_table

    def counting(sp, sf, name):
        calls.append((sf, name))
        return real(sp, sf, name)

    monkeypatch.setattr(catalog, "load_table", counting)
    catalog._VIEWS_REGISTERED.clear()
    catalog.register_views(spark, "/root/testdata/sf0.001")
    n_tables = len(calls)
    assert n_tables >= 10
    catalog.register_views(spark, "/root/testdata/sf0.001")
    assert len(calls) == n_tables, "same sf_dir must be a no-op"
    n1 = spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    catalog.register_views(spark, "/root/testdata/sf0.01")
    assert len(calls) == 2 * n_tables, "sf switch must re-register"
    n2 = spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    assert n2 > n1, "views must point at the NEW sf_dir after the switch"
    # leave the session with the smoke views most tests expect, unmemoized
    catalog._VIEWS_REGISTERED.clear()
    monkeypatch.undo()
    catalog.register_views(spark, "/root/testdata/sf0.001")
    catalog._VIEWS_REGISTERED.clear()


def test_register_views_memo_is_weak_per_session_object(spark):
    """ADVICE r10: the memo used to key on (applicationId, id(spark));
    CPython reuses object ids after GC, so a recreated session sharing the
    applicationId could inherit a dead session's memo entry, skip
    registration, and fail later with TABLE_OR_VIEW_NOT_FOUND (temp views
    are per-session). Now a WeakKeyDictionary on the session object: a new
    session never aliases an old one, and entries die with their session."""
    import weakref

    from onebrc_spark.sources import catalog

    # structural: weak keys mean an entry can never outlive (and so never
    # alias) its session object — the id-reuse hazard is gone by type
    assert isinstance(catalog._VIEWS_REGISTERED, weakref.WeakKeyDictionary)
    catalog._VIEWS_REGISTERED.clear()
    catalog.register_views(spark, "/root/testdata/sf0.001")
    s2 = spark.newSession()  # same applicationId, distinct session object
    assert catalog._VIEWS_REGISTERED.get(s2) is None, (
        "a fresh session must not inherit another session's memo entry"
    )
    catalog.register_views(s2, "/root/testdata/sf0.001")
    # the views really exist in the NEW session (the failure the old keying
    # risked was exactly this query erroring after a skipped registration)
    assert s2.sql("SELECT count(*) AS n FROM region").first()["n"] > 0
    assert len(catalog._VIEWS_REGISTERED) == 2
    # NOTE: pyspark itself retains newSession() objects via an internal
    # closure cell, so entries for them stay live — that's pyspark keeping
    # the SESSION alive (entry still correct), not the memo leaking; the
    # weak key frees the entry the moment pyspark ever lets go.
    catalog._VIEWS_REGISTERED.clear()
    catalog.register_views(spark, "/root/testdata/sf0.001")
    catalog._VIEWS_REGISTERED.clear()


def test_ivf_celled_memo_returns_twin(spark):
    """r13 optimization: _memoized_celled hands consumers a localCheckpoint
    twin (LogicalRDD plan) of the persisted cell table, so the audit
    assembly stops re-analyzing the K x dim inline-literal cosine tree on
    every downstream operation (~2.2 s -> ~0.9 s of driver-side build per
    query at sf0.01). Pins: identical rows to the un-memoized build, the
    twin is plan-truncated, and repeated hits reuse ONE twin object."""
    from onebrc_spark.operators import similarity as sim

    sf_dir = "/root/testdata/sf0.001"
    e = sim.load_table(spark, sf_dir, "embeddings")
    cents = sim._centroids()

    def build():
        cs = sim.F.expr(
            "array("
            + ", ".join(
                f"coalesce({sim._cosine_sqlx('embedding', sim.sql_double_array([float(v) for v in c]))}, -2.0D)"
                for c in cents
            )
            + ")"
        )
        t2 = sim._top2_cells(cs)
        return e.select(
            "vec_id", "embedding",
            t2["b_i"].alias("cell"), t2["s_i"].alias("cell2"),
        )

    plain = build().collect()
    key = (spark.sparkContext.applicationId, sf_dir, "memo-twin-test")
    first = sim._memoized_celled(key, build, small=True)
    again = sim._memoized_celled(
        key,
        lambda: (_ for _ in ()).throw(AssertionError("must hit memo")),
        small=True,
    )
    assert again is first, "memo hit must reuse the one twin object"
    plan = first._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan[:500]
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, plain))
    # the entry is the twin alone: the persisted original it was taken
    # from is already released
    assert sim._IVF_CELLED_CACHE.get(key) is first
    assert len(sim._IVF_CELLED_CACHE._data[key]) == 1
    assert _rdd_id(first) in _stored(spark)


def test_twin_is_size_gated(spark):
    """r14 (VERDICT r13 #2, ADVICE r13): the localCheckpoint twin
    materializes a second non-replicated copy and truncates lineage, which
    is only scale-safe for small inputs. Pins: (a) small=False hands back
    the persisted original itself (full-lineage plan, NOT a LogicalRDD);
    (b) the gate helper fires only for known-small sources; (c) the real
    IVF path twins at the test SFs (hint present, far under the gate) —
    so the r13 speedup is preserved where it was measured."""
    from onebrc_spark.operators import similarity as sim
    from onebrc_spark.sources import catalog

    sf_dir = "/root/testdata/sf0.001"
    e = sim.load_table(spark, sf_dir, "embeddings")

    # (b) the gate: unknown size and oversize are NOT small
    assert not catalog.small_for_twin(0)
    assert not catalog.small_for_twin(catalog._TWIN_MAX_SRC_BYTES + 1)
    assert catalog.small_for_twin(catalog._TWIN_MAX_SRC_BYTES)
    assert catalog.small_for_twin(1)
    # spread() re-stamps the hint, so derived-from-spread frames still gate
    spread_frame = catalog.spread(e, spark)
    assert catalog.src_bytes_hint(spread_frame) == catalog.src_bytes_hint(e) > 0
    assert catalog.small_for_twin(catalog.src_bytes_hint(spread_frame))

    # (a) large/unknown input: consumers get the persisted handle itself
    key = (spark.sparkContext.applicationId, sf_dir, "memo-gate-test")
    build = lambda: e.select("vec_id", "embedding")  # noqa: E731
    big = sim._memoized_celled(key, build, small=False)
    persisted = sim._IVF_CELLED_CACHE.get(key)
    assert big is persisted, "small=False must hand out the persisted original"
    assert _persisted(big)
    plan = big._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan[:500]
    # the build took no checkpoint, so the entry holds the persist alone
    assert len(sim._IVF_CELLED_CACHE._data[key]) == 1


def test_load_table_handle_memo(spark, tmp_path):
    """r14: load_table memoizes the built frame per (session, sf_dir, name)
    under a file fingerprint — repeat calls return the SAME plan handle
    (the ~90-round-trip build is paid once), and touching the backing file
    invalidates the entry. The memo caches a PLAN, never data: the twin
    directories below contain different rows and each read returns its own."""
    import shutil

    from onebrc_spark.sources import catalog

    a = catalog.load_table(spark, "/root/testdata/sf0.001", "documents")
    b = catalog.load_table(spark, "/root/testdata/sf0.001", "documents")
    assert b is a, "repeat load must hit the handle memo"
    assert catalog.src_bytes_hint(a) > 0

    # fingerprint invalidation: a regenerated file must rebuild the handle
    d = tmp_path / "sfX"
    d.mkdir()
    src = "/root/testdata/sf0.001/documents.parquet"
    dst = d / "documents.parquet"
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, str(dst))
    first = catalog.load_table(spark, str(d), "documents")
    assert catalog.load_table(spark, str(d), "documents") is first
    target = dst if dst.is_file() else next(dst.glob("*.parquet"))
    os.utime(target, ns=(1, 1))  # mtime change = regeneration
    fresh = catalog.load_table(spark, str(d), "documents")
    assert fresh is not first, "stale fingerprint must invalidate the memo"


def test_spread_width_dense_budget(spark):
    """r14: the dense per-task byte budget widens small CPU-dense inputs
    and is a no-op at the shared cap — cluster behavior identical, only
    the small-input parallelism trade moves."""
    from onebrc_spark.sources import catalog

    e = catalog.load_table(spark, "/root/testdata/sf0.001", "documents")
    base = catalog.spread_width(e, spark)
    dense = catalog.spread_width(e, spark, dense=True)
    cap = spark.sparkContext.defaultParallelism * 2
    assert base <= dense <= cap
    # a frame with no hint falls back to the cap under BOTH budgets
    nohint = e.select("doc_id")
    assert catalog.spread_width(nohint, spark) == cap
    assert catalog.spread_width(nohint, spark, dense=True) == cap
