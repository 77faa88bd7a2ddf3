"""Custom Python Data Source (Spark 4 `pyspark.sql.datasource`) — SURVEY §2.1.

The reference's sources are file readers plus a synthetic generator
(`rust_1brc/src/bin/generate.rs:10-39`); Spark's idiomatic extension point
for "a source that isn't a file format" is the Python Data Source API:
implement `DataSource` + `DataSourceReader`, register once per session, and
`spark.read.format("onebrc_synth")` plans it like any other scan — with
genuine input partitions, so executors generate their slices in parallel
and the driver never materializes a row.

The generation math is the content-addressed md5 arithmetic of
`generator.generate_measurements_ca` (pure function of the row id), so the
source's output is bit-identical to both the JVM formulation and the DuckDB
oracle regeneration — one relation, three independent engines.

Scale notes: this is the API-surface demo; per-row Python makes it the slow
path by design (the 100 TB generator is the JVM-side
`generate_measurements_ca`). What IS scale-real here: `partitions()` drives
genuine parallelism (one task per slice, no skew — equal ranges), and the
reader streams tuples without buffering the partition.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.sources.generator import (
    MEAN_HI,
    MEAN_LO,
    NUM_STATIONS,
    measurements_oracle_sql,
)

_SRC_ROWS = 20_000
_SRC_SEED = 7
_SRC_PARTS = 8


def _u(tag: str, seed: int, i: int) -> float:
    """Python twin of generator._unit_uniform: md5(tag:seed:id) → (0,1).

    int(hex, 16) + 0.5 and the division are exact/correctly-rounded double
    ops, so this is bit-identical to the JVM and DuckDB formulations.
    """
    h = int(hashlib.md5(f"{tag}:{seed}:{i}".encode()).hexdigest()[:8], 16)
    return (h + 0.5) / 4294967296.0


def _round1(x: float) -> float:
    """Spark's round(x, 1): BigDecimal.valueOf(x).setScale(1, HALF_UP).

    BigDecimal.valueOf uses Double.toString (shortest round-trip repr) —
    exactly Python's repr(float) — so Decimal(repr(x)) + ROUND_HALF_UP is
    bit-identical; Python's built-in round() (banker's) is NOT.
    """
    return float(Decimal(repr(x)).quantize(Decimal("0.1"), rounding=ROUND_HALF_UP))


def _station(i: int, seed: int = _SRC_SEED) -> tuple[str, float, float]:
    """(name, mean, sigma) for station i — twin of generator.station_table.

    seed MUST be the reader's configured seed (round-5 review: the sigma
    derivation hardcoded the default, silently breaking bit-identity with
    generate_measurements_ca for any other seed — invisible while the
    tests only exercised seed=7)."""
    mean = _round1(MEAN_LO + ((MEAN_HI - MEAN_LO) * i) / (NUM_STATIONS - 1))
    u1 = _u("sigma_u1", seed, i)
    u2 = _u("sigma_u2", seed, i)
    z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
    sigma = max(0.1, 10.0 + 2.5 * z)
    return (f"station_{i:03d}", mean, sigma)


class _Slice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class OnebrcSynthDataSource(DataSource):
    """`spark.read.format("onebrc_synth").option("n", ...).load()`.

    Options: n (rows), seed, partitions.
    """

    @classmethod
    def name(cls) -> str:
        return "onebrc_synth"

    def schema(self) -> str:
        return "station string, measure double"

    def reader(self, schema) -> "OnebrcSynthReader":
        return OnebrcSynthReader(self.options)


class OnebrcSynthReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", _SRC_ROWS))
        self.seed = int(options.get("seed", _SRC_SEED))
        self.parts = int(options.get("partitions", _SRC_PARTS))

    def partitions(self):
        step = -(-self.n // self.parts)
        return [
            _Slice(s, min(s + step, self.n)) for s in range(0, self.n, step)
        ]

    def read(self, partition: _Slice):
        stations = [_station(i, self.seed) for i in range(NUM_STATIONS)]
        for i in range(partition.start, partition.end):
            pick = int(_u("pick", self.seed, i) * NUM_STATIONS)
            u1 = _u("temp_u1", self.seed, i)
            u2 = _u("temp_u2", self.seed, i)
            z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
            name, mean, sigma = stations[pick]
            yield (name, _round1(mean + z * sigma) + 0.0)


def read_synth(spark: SparkSession, n: int = _SRC_ROWS, seed: int = _SRC_SEED) -> DataFrame:
    spark.dataSource.register(OnebrcSynthDataSource)
    return (
        spark.read.format("onebrc_synth")
        .option("n", n)
        .option("seed", seed)
        .load()
    )


@query(
    "src_python_datasource",
    # The oracle regenerates the identical relation with the shared
    # content-addressed SQL and aggregates it the same way. sum over
    # decidegrees (round(measure*10) as int) keeps the sum integer —
    # immune to float summation order.
    oracle=f"""
    SELECT station,
           count(*) AS n,
           min(measure) AS min_measure,
           max(measure) AS max_measure,
           CAST(sum(CAST(round(measure * 10) AS BIGINT)) AS BIGINT) AS sum_dm
    FROM ({measurements_oracle_sql(_SRC_ROWS, _SRC_SEED)})
    GROUP BY station ORDER BY station
    """,
    survey_ref="S7 (custom Python Data Source, Spark 4 API)",
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the custom Python data source and aggregate per station. The
    hash check proves the full loop: Python-process generation → Arrow
    transfer → JVM aggregate ≡ DuckDB's SQL regeneration of the same
    content-addressed relation (sf_dir unused — the source IS the data)."""
    df = read_synth(spark)
    return (
        df.groupBy("station")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("measure").alias("min_measure"),
            F.max("measure").alias("max_measure"),
            F.sum(half_away_long(F.col("measure") * 10)).alias("sum_dm"),
        )
        .orderBy("station")
    )


class OnebrcSynthStreamReader(DataSourceStreamReader):
    """Micro-batched streaming reader over the same content-addressed
    relation: offsets are row ids, each trigger serves `rows_per_batch`
    more rows, split into `partitions` genuine input partitions.

    This is the full (not Simple) stream-reader contract — initialOffset /
    latestOffset / partitions / read / commit — i.e. the same offset
    protocol a Kafka source speaks, so checkpoint recovery and
    exactly-once replay work: a batch is defined by its (start, end)
    offsets and regenerating it is deterministic.
    """

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rows_per_batch", 1000))
        self.max_rows = int(options.get("n", _SRC_ROWS))
        self.seed = int(options.get("seed", _SRC_SEED))
        self.parts = int(options.get("partitions", 4))
        self._offset = 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        self._offset = min(self._offset + self.rows_per_batch, self.max_rows)
        return {"row": self._offset}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        step = max(1, -(-(hi - lo) // self.parts))
        return [_Slice(s, min(s + step, hi)) for s in range(lo, hi, step)]

    def read(self, partition: _Slice):
        stations = [_station(i, self.seed) for i in range(NUM_STATIONS)]
        for i in range(partition.start, partition.end):
            pick = int(_u("pick", self.seed, i) * NUM_STATIONS)
            u1 = _u("temp_u1", self.seed, i)
            u2 = _u("temp_u2", self.seed, i)
            z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
            name, mean, sigma = stations[pick]
            yield (name, _round1(mean + z * sigma) + 0.0)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: batches are regenerable by offset


def _streaming_source_with_reader():
    class OnebrcSynthStreamSource(OnebrcSynthDataSource):
        @classmethod
        def name(cls) -> str:
            return "onebrc_synth_stream"

        def streamReader(self, schema) -> OnebrcSynthStreamReader:
            return OnebrcSynthStreamReader(self.options)

    return OnebrcSynthStreamSource


def read_synth_stream(
    spark: SparkSession, n: int = 4000, rows_per_batch: int = 1000
) -> DataFrame:
    spark.dataSource.register(_streaming_source_with_reader())
    return (
        spark.readStream.format("onebrc_synth_stream")
        .option("n", n)
        .option("rows_per_batch", rows_per_batch)
        .load()
    )


# --- Python Data Source WRITER: the report sink (SURVEY §2.1 S8 twin) ------


class _ReportCommit(WriterCommitMessage):
    """Per-task commit message: the temp file the task wrote + its row
    count. Collected on the driver; only commit() makes files visible."""

    def __init__(self, tmp_name: str, n_rows: int):
        self.tmp_name = tmp_name
        self.n_rows = n_rows


class OnebrcReportSink(DataSource):
    """Formatted 1BRC report as a custom Python Data Source WRITER — the
    sink-side twin of OnebrcSynthDataSource's reader, completing the Python
    DataSource API surface (reader / stream reader / writer). Input rows
    are the flagship aggregate (station, min, mean, max); each task
    formats its partition as `station=min/mean/max` lines (the reference's
    report layout, thebracket.rs:169-187) and the job commits atomically:

      write()  — one call per task: writes lines to
                 <path>/_temporary/<uuid>.txt, returns (name, n_rows).
      commit() — driver-only, after ALL tasks succeed: renames every temp
                 file to a job-unique part-<i>-<jobid>.txt, atomically
                 replaces the _SUCCESS manifest (which lists the live
                 files), then clears stale parts. Manifest-gated readers
                 never observe a half-written or half-deleted job; see
                 commit() for the crash-ordering argument.
      abort()  — deletes the orphaned temp files.

    This is the same task-attempt / job-commit contract every production
    Spark file sink implements (speculative or retried tasks each write
    their own temp file; only the committed attempt becomes visible).
    Scale note: the API demo targets a filesystem all tasks can reach
    (local mode here; NFS/object store on a cluster) — at 100 TB you'd
    keep the JVM parquet sink for data and use this protocol shape for
    custom last-mile exports (reports, manifests, feeds)."""

    @classmethod
    def name(cls) -> str:
        return "onebrc_report_sink"

    def writer(self, schema, overwrite: bool) -> "OnebrcReportWriter":
        return OnebrcReportWriter(self.options, overwrite)


class OnebrcReportWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("onebrc_report_sink requires .option('path', ...)")
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator) -> _ReportCommit:
        import os
        import uuid

        tmp_dir = os.path.join(self.path, "_temporary")
        os.makedirs(tmp_dir, exist_ok=True)
        tmp_name = f"{uuid.uuid4().hex}.txt"
        n = 0
        with open(os.path.join(tmp_dir, tmp_name), "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(
                    f"{row.station}={row.min:.1f}/{row.mean:.1f}/{row.max:.1f}\n"
                )
                n += 1
        return _ReportCommit(tmp_name, n)

    def commit(self, messages) -> None:
        """Publish in crash-safe order (round-5 advice: the old
        delete-then-rename left a window with neither old nor new data):

          1. rename new parts into place under JOB-UNIQUE names
             (part-<i>-<jobid>.txt — can't collide with a previous job's),
          2. atomically os.replace() the _SUCCESS manifest, which lists the
             new job's files,
          3. only then delete stale parts from prior jobs + _temporary.

        A crash before step 2 leaves the previous _SUCCESS + its parts fully
        intact; a crash after step 2 leaves the new job committed (stale
        parts leak until the next overwrite, but the manifest names the live
        files). Atomicity is thus real for manifest-gated readers — readers
        that blind-glob part-* must tolerate stale files between steps 2-3."""
        import json
        import os
        import shutil
        import uuid

        tmp_dir = os.path.join(self.path, "_temporary")
        job_id = uuid.uuid4().hex[:8]
        total = 0
        files = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = f"part-{i:05d}-{job_id}.txt"
            os.replace(
                os.path.join(tmp_dir, m.tmp_name), os.path.join(self.path, final)
            )
            total += m.n_rows
            files.append(final)
        success = os.path.join(self.path, "_SUCCESS")
        success_tmp = os.path.join(tmp_dir, "_SUCCESS.tmp")
        with open(success_tmp, "w", encoding="utf-8") as f:
            # parts = files actually renamed (None messages carry no file)
            json.dump({"rows": total, "parts": len(files), "files": files}, f)
        os.replace(success_tmp, success)  # the commit point
        if self.overwrite:
            keep = set(files) | {"_SUCCESS", "_temporary"}
            for entry in os.listdir(self.path):
                if entry not in keep:
                    full = os.path.join(self.path, entry)
                    (shutil.rmtree if os.path.isdir(full) else os.remove)(full)
        shutil.rmtree(tmp_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        import os
        import shutil

        shutil.rmtree(os.path.join(self.path, "_temporary"), ignore_errors=True)


def write_report(df: DataFrame, path: str) -> None:
    """Write a (station, min, mean, max) aggregate as a committed report
    directory via the Python DataSource writer."""
    spark = df.sparkSession
    spark.dataSource.register(OnebrcReportSink)
    df.write.format("onebrc_report_sink").mode("overwrite").option(
        "path", path
    ).save()
