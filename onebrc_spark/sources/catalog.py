"""Parquet catalog over the driver testdata (SURVEY §2.1 S6).

Every query loads tables through here: explicit schema (style rule from
`rust_1brc/src/main.rs:228-234` — never infer), columnar parquet scan with
Catalyst predicate pushdown / column pruning left fully enabled.

Scale note: at the 100 TB design point these would be partitioned parquet
datasets (e.g. lineitem by l_shipdate month); `spark.read.parquet` on a
directory plus partition pruning covers that with the same call shape.
"""

from __future__ import annotations

import functools
import glob
import os
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onebrc_spark import schemas


@functools.lru_cache(maxsize=None)
def ts_units(sf_dir: str, name: str) -> tuple[tuple[str, str], ...]:
    """Sniff the parquet logical-type unit of every timestamp column of one
    table from the footer: ((column, unit), ...), unit ∈ 'ns'|'us'|'ms'|'s'.

    The driver has regenerated the testdata with a different unit before
    (events.ts nanos → micros between rounds 1 and 2), silently shifting
    every event timestamp 1000× while the unit was hard-coded. The footer is
    the single source of truth; everything downstream (batch catalog,
    streaming source, tests) branches on this one function — and it covers
    ALL timestamp columns (o_orderdate, l_shipdate, ts), not just the one
    that drifted last time. Footer read is metadata-only (no row groups
    touched) and cached per (directory, table).
    """
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):  # directory-style parquet dataset
        paths = sorted(glob.glob(f"{path}/*.parquet"))
        if not paths:
            raise FileNotFoundError(f"no parquet part files under {path}")
    else:
        paths = [path]
    # Sniff EVERY part file, not just the first: a partially regenerated
    # dataset (part-0 micros, later parts nanos — the exact drift class
    # this function exists to catch) must fail LOUDLY here instead of
    # silently decoding some rows 1000x off (round-5 review). Footer reads
    # are metadata-only and the result is cached per (directory, table).
    out = []
    for field in schemas.TABLES[name].fields:
        if not isinstance(field.dataType, T.TimestampType):
            continue
        units = set()
        for part in paths:
            typ = pq.read_schema(part).field(field.name).type
            unit = getattr(typ, "unit", None)
            if unit is None:
                raise TypeError(
                    f"{name}.{field.name} is not a parquet timestamp: {typ}"
                )
            units.add(unit)
        if len(units) > 1:
            raise TypeError(
                f"{name}.{field.name} has MIXED timestamp units across part "
                f"files ({sorted(units)}) — refusing to guess; regenerate "
                "the dataset with one unit"
            )
        out.append((field.name, units.pop()))
    return tuple(out)


def _read_schema(sf_dir: str, name: str) -> T.StructType:
    """Raw reader schema at this sf_dir's actual on-disk units.

    Columns whose footer says TIMESTAMP(NANOS) are requested as LongType:
    Spark's vectorized reader cannot decode nanos as TimestampType, but with
    spark.sql.legacy.parquet.nanosAsLong=true (session.py) it delivers the
    raw long for normalize_ts to convert. All other units decode directly.
    """
    nanos = {c for c, u in ts_units(sf_dir, name) if u == "ns"}
    if not nanos:
        return schemas.TABLES[name]
    return T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name in nanos else f.dataType, f.nullable)
            for f in schemas.TABLES[name].fields
        ]
    )


def normalize_ts(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Bring a raw scan to the logical schema (every ts = TimestampType).

    micros/millis (current data): the reader already decoded TimestampType —
    no-op. nanos (legacy data): the column arrived as long nanos
    (nanosAsLong=true); truncate to micros with integer DIV — a double
    division would lose precision above 2^53 — matching DuckDB's
    nanos→micros truncation.
    """
    nanos = [c for c, u in ts_units(sf_dir, name) if u == "ns"]
    for col in nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    if nanos:
        df = df.select(*[f.name for f in schemas.TABLES[name].fields])
    return df


def normalize_events_ts(df: DataFrame, sf_dir: str) -> DataFrame:
    """Back-compat alias used by the streaming source."""
    return normalize_ts(df, sf_dir, "events")


def events_read_schema(sf_dir: str) -> T.StructType:
    """Raw reader schema for the events table at this sf_dir's actual unit."""
    return _read_schema(sf_dir, "events")


# (session → {(sf_dir, name): (fingerprint, DataFrame)}) — the loaded-table
# HANDLE memo (r14, guide §1.2 per-task → driver-boundary cost). Building a
# table frame is ~90 py4j round trips (reader + footer-sniffed ts
# normalization + the finite_or_null policy columns) plus a JVM-side file
# listing — measured 80-370 ms per call, and EVERY query build pays it per
# table. The frame is an unexecuted PLAN: memoizing it caches no data and
# no result (the scan runs at each execution), exactly the register_views
# precedent (r10) generalized to the DataFrame surface. The fingerprint
# (per-file size+mtime) invalidates the entry when testdata is regenerated;
# weak-keyed on the session object so a stopped session's entries die with
# it (see _VIEWS_REGISTERED for why not id(spark)).
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _table_fingerprint(sf_dir: str, name: str) -> tuple:
    """(path, size, mtime_ns) of every file backing one table — stat-only,
    microseconds; () when the path cannot be statted (non-local input:
    the memo then never hits and behavior is exactly the uncached path)."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(p):
            st = os.stat(p)
            return ((p, st.st_size, st.st_mtime_ns),)
        return tuple(
            (f, os.stat(f).st_size, os.stat(f).st_mtime_ns)
            for f in sorted(glob.glob(os.path.join(p, "*.parquet")))
        )
    except OSError:
        return ()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Schema is asserted, not inferred.

    We pass the expected schema to the reader: for parquet Spark uses it as
    the read schema (column pruning still applies on top), and any drift
    between FIXTURES.md and the files surfaces as an error here, not as a
    subtly-wrong query result. Timestamp columns are unit-sniffed from the
    footer (see ts_units) rather than assumed.

    The returned frame is memoized per (session, sf_dir, name) under a file
    fingerprint (see _TABLE_MEMO) — callers receive a shared immutable plan
    handle and derive their own frames from it.
    """
    if name not in schemas.TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(schemas.TABLES)}")
    fp = _table_fingerprint(sf_dir, name)
    memo = _TABLE_MEMO.setdefault(spark, {})
    hit = memo.get((sf_dir, name))
    if hit is not None and fp and hit[0] == fp:
        return hit[1]
    path = f"{sf_dir}/{name}.parquet"
    raw = spark.read.schema(_read_schema(sf_dir, name)).parquet(path)
    df = normalize_ts(raw, sf_dir, name)
    if name == "events":
        df = df.withColumn("value", finite_or_null(F.col("value")))
    if name == "embeddings":
        df = df.withColumn("embedding", finite_vector_or_null(F.col("embedding")))
    # Source-size hint for spread() (r13): plain file metadata, no optimizer
    # pass — a directory table sums its parts (the same stats the
    # fingerprint already took).
    src_bytes = sum(s for _, s, _ in fp)
    if src_bytes:
        df._onebrc_src_bytes = src_bytes
    if fp:
        memo[(sf_dir, name)] = (fp, df)
    return df


def finite_or_null(c: Column) -> Column:
    """Non-finite measurement boundary: NaN and ±Inf map to NULL at
    ingestion — the engine's documented policy for garbage numerics in the
    `events.value` measurement column (the P5 PERMISSIVE-quarantine
    precedent applied to a value column: one NaN record must degrade to a
    missing value, not kill a 100 TB job). Without this, every exact-
    integer quantization — round(value·K) cast to BIGINT, the repo-wide
    float-determinism idiom — THROWS under ANSI (CAST_OVERFLOW: NaN) in
    Spark and OutOfRange in DuckDB, and the engines that don't throw
    disagree (SQL sorts NaN greatest, pandas kernels skip it). NULL is the
    one semantics all three runtimes already share. The DuckDB oracles see
    the identical boundary via registry._normalize_events_refs; pinned by
    the NaN/Inf rows in tests/test_edge_documents.py's events fixture."""
    return F.when(F.isnan(c) | (F.abs(c) == float("inf")), F.lit(None)).otherwise(c)


def finite_vector_or_null(c: Column) -> Column:
    """The finite_or_null policy for the embedding vector column: a vector
    carrying ANY non-finite coordinate is garbage as a whole (one NaN
    poisons every dot product, cosine and quantization built on it), so
    the vector nulls out entirely — and every similarity operator already
    handles NULL embeddings through the zero-norm/NULL-cosine guards
    (cosine() → NULL → dropped by thresholds; the IVF argmax coalesces to
    the cell-1 sentinel). Coordinate-level NULLing would instead leak
    rows whose similarity silently used a partial vector. Same oracle-side
    boundary via registry._normalize_events_refs' embeddings twin; pinned
    by the NaN/Inf vectors in tests/test_edge_documents.py."""
    bad = F.exists(c, lambda x: F.isnan(x) | (F.abs(x) == float("inf")))
    return F.when(bad, F.lit(None).cast("array<float>")).otherwise(c)


# Per-task byte budget for the compute fan-out (r13 optimization round,
# guide §2.2/§2.5): sizes the spread width from the INPUT, not from the
# host. Estimated source bytes per spread partition.
_SPREAD_BYTES_PER_TASK = 128 * 1024
# Byte budget for COMPUTE-DENSE pipelines (r14, guide §1.1/§2.6): the
# MinHash signature fold (one md5 + 12 affine folds per shingle) and the
# similarity bucket/cosine folds (10s of 64-dim interpreted dot products
# per row) cost 1-2 orders of magnitude more CPU per source byte than a
# plain columnar scan, so their dominant stages were running 5-7 tasks on a
# 32-core box under the generic 128 KiB/task rule (measured: the signature
# stage was ~45 s of executor time over 5 tasks at sf0.1 in the r14
# profile). A smaller per-task byte budget widens exactly those pipelines;
# the cap (cores x per_core) is unchanged, so at real corpus sizes both
# budgets saturate to the same width and cluster behavior is identical —
# this only moves the small-input trade between task-launch overhead and
# idle cores. Chosen by ABBA measurement on the minhash build (see
# OPTIMIZATION_r14.md).
_SPREAD_DENSE_BYTES_PER_TASK = 32 * 1024


def spread(
    df: DataFrame, spark: SparkSession, per_core: int = 2, dense: bool = False
) -> DataFrame:
    """Round-robin repartition to min(cores×per_core, input-derived) partitions.

    For CPU-heavy per-row operators (shingling, MinHash, SimHash, decode
    UDFs) the scan's partition count is set by file splits — a single small
    parquet file arrives as ONE partition and serializes the whole stage on
    one core (observed: dedup at sf0.1 pinned to 1 of 32 threads). Compute
    parallelism must be decoupled from scan parallelism; this is the
    explicit analogue of the reference's fixed thread-per-core fan-out
    (`thebracket.rs:11,121-131`). At 100 TB the same rule holds per
    executor: partitions ≥ total cores.

    Width is SCALE-ADAPTIVE (r13, guide §2.2 "fewer, larger map tasks" /
    §2.5 synthetic-partitioning note): the fan-out is derived from the
    plan's estimated input bytes (one partition per _SPREAD_BYTES_PER_TASK,
    128 KiB of source bytes) and capped at cores×per_core — any
    real corpus saturates the cap immediately, so cluster behavior is
    byte-identical to the old constant, while tiny inputs stop paying
    cores×2 task launches + cores×2-way shuffle-file fan-out in EVERY
    downstream stage. Measured (sf0.1, 5,000 docs, 594 KiB parquet): the
    minhash pair build runs 64-task stages whose per-stage wall is
    ~0.7-1.3 s at width 64 vs ~0.1-0.3 s at width ≤16 with identical
    output — the whole build drops ~25-40% (see OPTIMIZATION_r13.md).
    The size estimate is the `_onebrc_src_bytes` file-metadata hint stamped
    by load_table (plain os.path.getsize — measured: consulting Catalyst's
    optimizedPlan().stats() instead costs a per-call driver optimizer pass
    that ate the whole win on the similarity family); a frame without the
    hint falls back to the cap, i.e. the old behavior. The hint is
    RE-STAMPED on the output (r14, VERDICT r13 #3): the hint lives on the
    exact Python DataFrame object, so without this every frame derived
    from a spread() result would silently lose it and downstream
    width/twin decisions would fall back to the scale-safe default.
    """
    out = df.repartition(spread_width(df, spark, per_core, dense))
    est = src_bytes_hint(df)
    if est:
        out._onebrc_src_bytes = est
    return out


def spread_width(
    df: DataFrame, spark: SparkSession, per_core: int = 2, dense: bool = False
) -> int:
    """The partition count spread() would use for this frame — exposed so
    downstream coalesce targets (memoized asset layouts, union folds) can
    track the adaptive width instead of a host constant (r13: a 64-wide
    pair-set memo made every warm consumer pay 64–128 task launches per
    stage to read ~2k rows). `dense` selects the compute-dense per-task
    byte budget (see _SPREAD_DENSE_BYTES_PER_TASK); the cap is shared, so
    the flag is a no-op once the input saturates it."""
    cap = spark.sparkContext.defaultParallelism * per_core
    bpt = _SPREAD_DENSE_BYTES_PER_TASK if dense else _SPREAD_BYTES_PER_TASK
    est = src_bytes_hint(df)
    if est <= 0 or est >= cap * bpt:
        return cap
    return -(-est // bpt)  # ceil division, ≥ 1


def src_bytes_hint(df: DataFrame) -> int:
    """The `_onebrc_src_bytes` file-metadata hint for this frame, or 0 when
    absent (derived frame the stamp was lost on, or a non-local-filesystem
    input os.path.getsize cannot size — both degrade to the scale-safe
    defaults: full-cap spread width, no short-plan twin)."""
    return getattr(df, "_onebrc_src_bytes", 0) or 0


# Size gate for localCheckpoint short-plan twins (r14, VERDICT r13 #2): a
# twin materializes a SECOND, non-replicated copy of a memoized table next
# to the persisted original and truncates lineage (an executor loss makes
# the blocks unrecoverable instead of recomputable). Both trades are only
# acceptable when the underlying corpus is small; above this source-bytes
# threshold consumers get the persisted original, whose re-analysis cost is
# fixed and amortized at scale. Core-count-independent on purpose — the
# driver benches the same data at several SPARK_GRAFT_CPUS values, and the
# twin decision must not flip between them.
_TWIN_MAX_SRC_BYTES = 32 * 1024 * 1024


def small_for_twin(src_bytes: int) -> bool:
    """True iff a short-plan localCheckpoint twin is scale-safe for a memo
    derived from `src_bytes` of source input. Unknown size (0) → False:
    the scale-safe default is the persisted original."""
    return 0 < src_bytes <= _TWIN_MAX_SRC_BYTES


# SparkSession -> last-registered sf_dir. Weak-keyed on the session OBJECT
# (not id(spark): CPython reuses ids after GC, so a stop/recreate-session
# pattern could alias a dead session's memo entry and skip registration —
# temp views are per-session, so the skip fails later with
# TABLE_OR_VIEW_NOT_FOUND). The entry dies with the session, structurally.
_VIEWS_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface —
    once per (session, sf_dir).

    Every SQL-surface query calls this; before round 10 it unconditionally
    rebuilt all 10 table DataFrames per call (~30 chatty py4j round-trips
    per table: schema reader + footer-sniffed timestamp normalization +
    finite_or_null). That is pure per-query fixed cost — the views are
    deterministic given (sf_dir, table) — and it dominated the sub-second
    SQL shapes when the r10 host's JVM round-trip latency grew (measured:
    register_views 0.45 s warm vs sql_tpch_q14's 0.15 s of actual query).
    Re-registration now happens only when the requested sf_dir CHANGES for
    the session (bench warmup alternates sf0.001/sf0.1 per query — the memo
    must invalidate on switch, not just on first call)."""
    if _VIEWS_REGISTERED.get(spark) == sf_dir:
        return
    for name in schemas.TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[spark] = sf_dir
