"""Concurrent query builds on one session.

The SQL-statement pipelines (MinHash pair build, incremental admission,
boilerplate ledger and clean) hand their input frames to `spark.sql` as named
arguments. Each call registers a uniquely named view and drops it afterwards,
so builds running at the same time on one session cannot read each other's
input, and no view outlives its build. The UDTF chunker calls its table
function through a lateral join instead of registering it under a name.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from onebrc_spark import registry
from onebrc_spark.operators.dedup import _minhash_pairs_plan
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
    """Collected rows of one build; the cold pair build (the memo's
    producer) releases its transient handles as dedup_minhash_lsh does."""
    if name != "minhash_pairs":
        return _rows(ALL[name].fn(spark, sf_dir))
    out = _minhash_pairs_plan(spark, sf_dir)
    try:
        return _rows(out)
    finally:
        for h in out._onebrc_transient_handles:
            h.unpersist()


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
