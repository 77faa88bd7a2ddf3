"""Concurrent query builds on one session.

The SQL-statement pipelines (MinHash pair build, incremental admission,
boilerplate ledger and clean) hand their input frames to `spark.sql` as named
arguments. Each call registers a uniquely named view and drops it afterwards,
so builds running at the same time on one session cannot read each other's
input, and no view outlives its build. The UDTF chunker calls its table
function through a lateral join instead of registering it under a name.
Two threads cold-building one memo key store one entry between them.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from onebrc_spark import registry
from onebrc_spark.operators.dedup import (
    _MINHASH_PAIRS_CACHE,
    _minhash_pairs_plan,
    clear_pair_cache,
    minhash_pairs,
)
from onebrc_spark.operators.memo import PersistedLRU
from onebrc_spark.sources.catalog import (
    load_table,
    small_for_twin,
    spread_width,
    src_bytes_hint,
)
from tests.conftest import SF_DIR, SMOKE_SF_DIR

ALL = registry.load_all()
BUILDS = (
    "minhash_pairs",
    "dedup_incremental_admission",
    "text_boilerplate_segments",
    "text_boilerplate_clean",
    "udtf_chunk_documents",
)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _build(spark, name, sf_dir):
    """Collected rows of one build. The pair build is the memo's cold build
    into a private memo, so no other build can hit or release it."""
    if name != "minhash_pairs":
        return _rows(ALL[name].fn(spark, sf_dir))
    src = load_table(spark, sf_dir, "documents")
    small = small_for_twin(src_bytes_hint(src))
    memo = PersistedLRU()
    try:
        return _rows(
            memo.get_or_build(
                sf_dir,
                lambda: _minhash_pairs_plan(
                    spark, sf_dir, small, spread_width(src, spark)
                ),
                twin=small,
            )
        )
    finally:
        memo.clear()


def test_concurrent_builds_match_serial_and_leave_no_views(spark):
    """Every build runs once serially, then all of them at once from a
    thread pool, interleaved over two sf_dirs; each concurrent result must
    equal the serial result of the same query on the same sf_dir. A fresh
    session (sharing the test SparkContext) starts with no temp views and
    only the built-in functions, so any view or function left in its
    catalog afterwards was left by a build."""
    session = spark.newSession()
    builtins = {f.name for f in session.catalog.listFunctions()}
    # each query's two sf_dirs are adjacent, so the pool runs them at the
    # same time
    jobs = [(name, d) for name in BUILDS for d in (SMOKE_SF_DIR, SF_DIR)]
    serial = {job: _build(session, *job) for job in jobs}
    assert all(serial.values()), [k for k, v in serial.items() if not v]

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {job: pool.submit(_build, session, *job) for job in jobs}
        concurrent = {job: f.result() for job, f in futures.items()}

    wrong = [job for job in jobs if concurrent[job] != serial[job]]
    assert not wrong, wrong
    left = [t.name for t in session.catalog.listTables() if t.isTemporary]
    assert not left, left
    functions = {f.name for f in session.catalog.listFunctions()} - builtins
    assert not functions, functions


def test_same_key_cold_builds_store_one_entry(spark, monkeypatch):
    """Two threads cold-build the memoized pair set of one sf_dir at once
    (a barrier holds each build until both have missed the memo). Both
    get the serial rows; the first build to store its entry wins and the
    other releases its own build, so exactly one entry's RDD (the small
    input's twin) stays stored."""
    from onebrc_spark.operators import dedup

    sc = spark.sparkContext

    def stored() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    clear_pair_cache()
    serial = _rows(minhash_pairs(spark, SMOKE_SF_DIR))
    clear_pair_cache()
    both_missed = threading.Barrier(2, timeout=60)

    def plan(*args):
        both_missed.wait()
        return _minhash_pairs_plan(*args)

    monkeypatch.setattr(dedup, "_minhash_pairs_plan", plan)
    before = stored()
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(lambda: _rows(minhash_pairs(spark, SMOKE_SF_DIR)))
            for _ in range(2)
        ]
        results = [f.result(timeout=600) for f in futures]
    assert results == [serial, serial]
    assert len(_MINHASH_PAIRS_CACHE) == 1
    added = stored() - before
    assert len(added) == 1, added
    clear_pair_cache()
    assert not stored() - before
