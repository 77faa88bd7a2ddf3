"""The one owner of block storage: every persist and checkpoint of the
engine goes through this module (tests/test_determinism_lint.py fails on
a direct call elsewhere).

Three operator families memoize a shared asset per (applicationId,
sf_dir) through PersistedLRU.get_or_build: the MinHash near-dup pair set
(dedup.py), the component labels (clustering.py) and the IVF cell
assignments (similarity.py). An entry holds exactly what its handed-out
frame reads. With `twin=True` (small inputs) that is a checkpoint twin
taken from the counted persist; the persist and all the build stored are
released before get_or_build returns. Otherwise it is the persist plus
the checkpoints the build took. Eviction, clear() and a same-key replace
release all of it without waiting for JVM GC, so executor storage is
bounded by `maxsize` entries however many directories a session touches.

maxsize defaults to 2 because that is the legitimate working set: bench.py
re-warms every plan at the warmup SF immediately before timing it at the
measured SF, so the pair set for BOTH directories must stay live within
one timed query (a 1-entry LRU would thrash exactly there — the warmup
build would evict the measured asset the build entry just paid for). The
re-warm is measurement protocol kept for comparability with earlier bench
artifacts, not a guard against codegen-cache eviction: get_spark sizes
Spark's generated-code cache to hold every headline class.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from contextvars import ContextVar

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# (checkpoints, build persists) of the running build on this thread; set
# and reset around each build, so a nested build owns its own frames.
_BUILD: ContextVar[tuple[list, list] | None] = ContextVar("_BUILD", default=None)


def checkpoint(df: DataFrame, *, eager: bool) -> DataFrame:
    """A lineage-truncating checkpoint of `df`; the one place that picks
    the storage kind (local: blocks live on the executor that computed
    them and cannot be recomputed after executor loss).

    Inside a get_or_build build the memo entry owns the checkpoint. Outside
    one it is a query transient, released by Spark's ContextCleaner when
    the JVM collects the frame — the accepted failure mode, pinned by
    tests/test_memo.py::test_query_transient_checkpoint_stays_until_gc."""
    out = df.localCheckpoint(eager=eager)
    build = _BUILD.get()
    if build is not None:
        build[0].append(out)
    return out


def persist_for_build(df: DataFrame) -> DataFrame:
    """Persist `df` for the running build only: get_or_build releases it
    once the memo entry's count is done, whether the count succeeds or not."""
    build = _BUILD.get()
    if build is None:
        raise RuntimeError("persist_for_build outside a memo build")
    build[1].append(df.persist())
    return df


def release(df: DataFrame) -> None:
    """Release the blocks of a frame `checkpoint` returned or of a persisted
    frame, without blocking. A later read of a released checkpoint fails
    with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of returning rows."""
    try:
        plan = df._jdf.logicalPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist()
    except Py4JError:
        pass  # session already stopped


class PersistedLRU:
    """LRU of memo entries; eviction releases what the entry holds.

    Accepted failure mode: releasing an entry (eviction, clear() or a
    same-key replace) while a query over its frame is already planned. A
    persisted entry's query still runs, and Spark's CachedRDDBuilder
    stores the released buffers again as an RDD no entry owns, freed only
    by the ContextCleaner; a twin entry's query fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Size a memo to hold every key
    readers use at once. Pinned by
    tests/test_memo.py::test_release_under_a_planned_reader."""

    def __init__(self, maxsize: int = 2) -> None:
        if maxsize < 1:
            raise ValueError("maxsize must be >= 1")
        self._maxsize = maxsize
        # key -> [handed-out frame, *frames its lineage reads]
        self._data: OrderedDict[object, list[DataFrame]] = OrderedDict()
        self._lock = threading.RLock()

    def get(self, key: object) -> DataFrame | None:
        with self._lock:
            entry = self._data.get(key)
            if entry is None:
                return None
            self._data.move_to_end(key)
            return entry[0]

    def get_or_build(
        self, key: object, build: Callable[[], DataFrame], *, twin: bool = False
    ) -> DataFrame:
        """The memo entry for `key`, or build(): persisted, materialized with
        one count() and stored under `key` (see the module docstring for
        what the entry holds). A failed or cancelled build releases all it
        stored. When two threads build one key, the first to store wins and
        the other releases its own build and returns the winner's frame."""
        hit = self.get(key)
        if hit is not None:
            return hit
        checkpoints: list[DataFrame] = []
        scratch: list[DataFrame] = []
        token = _BUILD.set((checkpoints, scratch))
        held = checkpoints
        try:
            df = build().persist()
            held = [df, *checkpoints]
            df.count()
            if twin:
                out = checkpoint(df, eager=True)
                for f in held:
                    release(f)
                held = [out]
        except BaseException:
            for f in held:
                release(f)
            raise
        finally:
            _BUILD.reset(token)
            for f in scratch:
                release(f)
        with self._lock:
            winner = self.get(key)
            if winner is None:
                self.put(key, *held)
                return held[0]
        for f in held:
            release(f)
        return winner

    def put(self, key: object, df: DataFrame, *held: DataFrame) -> None:
        """Store `df` under `key`, holding `held` with it until the entry
        goes. A same-key replace releases what the displaced entry held."""
        entry = [df, *held]
        with self._lock:
            old = self._data.pop(key, None)
            if old is not None:
                # a displaced frame must be released, or it stays stored
                # outside any cache forever
                for f in old:
                    if not any(f is g for g in entry):
                        release(f)
            while len(self._data) >= self._maxsize:
                for f in self._data.popitem(last=False)[1]:
                    release(f)
            self._data[key] = entry

    def clear(self) -> None:
        with self._lock:
            for entry in self._data.values():
                for f in entry:
                    release(f)
            self._data.clear()

    def __len__(self) -> int:
        return len(self._data)

    def __contains__(self, key: object) -> bool:
        return key in self._data
