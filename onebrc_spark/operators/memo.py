"""Bounded memo for persisted DataFrames (VERDICT r6 hygiene item #7).

Three operator families memoize an expensive shared asset as a
persisted-and-materialized DataFrame keyed by (applicationId, sf_dir):
the verified MinHash near-dup pair set (dedup.py — four consumers), the
resolved connected-component labels (clustering.py — four consumers) and
the IVF cell assignments (similarity.py). All three go through
PersistedLRU.get_or_build, the one owner of get → build → persist →
count → unpersist-on-failure → put. An unbounded dict is correct for the
single-sf_dir sessions the driver and tests run, but a session that walks
many sf_dirs would accumulate one persisted DataFrame per directory for
the application lifetime. This LRU makes the bound explicit: inserting a
key beyond `maxsize` unpersists and drops the least-recently-used entry,
so executor storage is provably O(maxsize) no matter how many
directories a session touches.

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

from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame


def short_plan_twin(handle: DataFrame, small: bool) -> DataFrame:
    """Gated short-plan twin of a persisted-and-materialized memo handle
    (r14; generalizes the r13 IVF pattern, guide §7.3 'very large plans').

    The handle's logical plan is the full build tree (scan + expression
    forest); every consumer operation re-analyzes it eagerly, which for the
    literal-heavy dedup/similarity builds measured ~0.1-0.15 s per join on
    the driver. When `small`, hand consumers a localCheckpoint(eager=True)
    twin instead — its plan is ONE LogicalRDD line, and it materializes
    from the already-persisted columnar cache (cheap second copy of a tiny
    table). The twin rides on the handle (`_onebrc_trunc`) so the LRU's
    eviction drops both together: the persisted original stays the source
    of truth for storage accounting, and the twin's blocks are reclaimed by
    the ContextCleaner once the handle is dropped. Rows are identical by
    construction (the checkpoint IS the computed result).

    When NOT `small` (large or unknown input — see catalog.small_for_twin)
    the handle itself is returned: at scale a second non-replicated copy
    and localCheckpoint's no-recompute-on-executor-loss failure mode are
    the wrong trade for a fixed driver-side analysis cost (VERDICT r13 #2,
    ADVICE r13)."""
    if not small:
        return handle
    twin = getattr(handle, "_onebrc_trunc", None)
    if twin is None:
        twin = handle.localCheckpoint(eager=True)
        handle._onebrc_trunc = twin
    return twin


class PersistedLRU:
    """LRU of persisted DataFrames; eviction unpersists."""

    def __init__(self, maxsize: int = 2) -> None:
        if maxsize < 1:
            raise ValueError("maxsize must be >= 1")
        self._maxsize = maxsize
        self._data: OrderedDict[object, DataFrame] = OrderedDict()

    def get(self, key: object) -> DataFrame | None:
        df = self._data.get(key)
        if df is not None:
            self._data.move_to_end(key)
        return df

    def get_or_build(self, key: object, build: Callable[[], DataFrame]) -> DataFrame:
        """The memo entry for `key`, or build(): persisted, materialized with
        one count() and stored under `key`. A failed or cancelled count
        unpersists the fresh frame instead of leaving it persisted where no
        clear hook can reach it."""
        df = self.get(key)
        if df is not None:
            return df
        df = build().persist()
        try:
            df.count()
        except BaseException:
            df.unpersist()
            raise
        self.put(key, df)
        return df

    def put(self, key: object, df: DataFrame) -> None:
        if key in self._data:
            # same-key replace must release the displaced DataFrame, or it
            # stays persisted outside any cache forever — the exact leak
            # class this memo exists to prevent
            old = self._data[key]
            if old is not df:
                try:
                    old.unpersist()
                except Exception:
                    pass  # session already stopped
            self._data.move_to_end(key)
            self._data[key] = df
            return
        while len(self._data) >= self._maxsize:
            _, old = self._data.popitem(last=False)
            try:
                old.unpersist()
            except Exception:
                pass  # session already stopped
        self._data[key] = df

    def clear(self) -> None:
        for df in self._data.values():
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped
        self._data.clear()

    def __len__(self) -> int:
        return len(self._data)

    def __contains__(self, key: object) -> bool:
        return key in self._data
