"""Executable form of FIXTURES.md §B: assert the on-disk parquet footers.

The driver regenerates /root/testdata between rounds and has already changed
`events.ts` from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) once, silently shifting
every event timestamp 1000x while the repo hard-coded nanos (round-2 verdict:
13 red queries from that one drift). This module turns the fixture contract
into tests so the NEXT regeneration flips one assertion here instead of a
dozen query results.

No SparkSession needed — pure pyarrow footer reads (metadata only).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR, SMOKE_SF_DIR, TABLE_NAMES

# The exact-dup contract below is a property of the LARGEST fixture only;
# keep its location in one place (skipped gracefully if absent).
_SF01_DIR = "/root/testdata/sf0.1"

# Logical column -> pyarrow type string the repo's schemas/queries assume.
# Timestamp columns are listed separately because their *unit* is the part
# that has drifted; everything else is assert-equal.
EXPECTED_COLUMNS = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64",
        "c_name": "string",
        "c_nationkey": "int32",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64",
        "s_name": "string",
        "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int32",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64",
        "o_custkey": "int64",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64",
        "l_partkey": "int64",
        "l_suppkey": "int64",
        "l_linenumber": "int32",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
    },
    "events": {
        "event_id": "int64",
        "user_id": "int64",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "int64",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int64",
    },
    "embeddings": {"vec_id": "int64", "embedding": "list<element: float>", "label": "int32"},
}

# (table, column) -> units the repo can actually read. Every timestamp
# column is unit-sniffed per directory (catalog.ts_units): us/ms decode
# directly as TimestampType; ns reads as long + integer-DIV conversion.
# Seconds precision has no read path — a 's' regeneration must fail here.
TIMESTAMP_COLUMNS = {
    ("orders", "o_orderdate"): {"us", "ms", "ns"},
    ("lineitem", "l_shipdate"): {"us", "ms", "ns"},
    ("events", "ts"): {"us", "ms", "ns"},
}


def _footer(sf_dir: str, table: str):
    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        parts = sorted(glob.glob(f"{path}/*.parquet"))
        assert parts, f"no part files under {path}"
        path = parts[0]
    return pq.read_schema(path)


@pytest.mark.parametrize("sf_dir", [SMOKE_SF_DIR, SF_DIR])
@pytest.mark.parametrize("table", TABLE_NAMES)
def test_footer_matches_fixture_contract(sf_dir: str, table: str) -> None:
    schema = _footer(sf_dir, table)
    on_disk = {f.name: str(f.type) for f in schema}

    expected = EXPECTED_COLUMNS[table]
    ts_cols = {c for (t, c) in TIMESTAMP_COLUMNS if t == table}
    assert set(on_disk) == set(expected) | ts_cols, (
        f"{sf_dir}/{table}: column set drifted: {sorted(on_disk)}"
    )
    for col, want in expected.items():
        assert on_disk[col] == want, f"{sf_dir}/{table}.{col}: {on_disk[col]} != {want}"
    for col in ts_cols:
        typ = schema.field(col).type
        unit = getattr(typ, "unit", None)
        allowed = TIMESTAMP_COLUMNS[(table, col)]
        assert unit in allowed, (
            f"{sf_dir}/{table}.{col} is {typ} (unit={unit}); the repo only "
            f"reads {sorted(allowed)} for this column — teach "
            f"sources/catalog.py the new unit before trusting any query result"
        )


def test_catalog_sniffer_agrees_with_footer() -> None:
    from onebrc_spark.sources import catalog

    for sf_dir in (SMOKE_SF_DIR, SF_DIR):
        assert dict(catalog.ts_units(sf_dir, "events"))["ts"] == (
            _footer(sf_dir, "events").field("ts").type.unit
        )
        for table in ("orders", "lineitem", "events"):
            for col, unit in catalog.ts_units(sf_dir, table):
                assert unit == _footer(sf_dir, table).field(col).type.unit


def test_nanos_fallback_read_path(spark, tmp_path) -> None:
    """End-to-end proof the legacy-nanos branch still works: write an events
    file with ns timestamps, load it through the catalog, and check the
    values land on the same micros the us path produces."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from onebrc_spark.sources import catalog

    src = catalog.load_table(spark, SMOKE_SF_DIR, "events").limit(50).toPandas()
    tbl = pa.Table.from_pandas(src)
    idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(
        idx, "ts", tbl.column("ts").cast(pa.timestamp("ns"))
    )
    d = str(tmp_path / "nsdir")
    os.makedirs(d)
    pq.write_table(tbl, f"{d}/events.parquet", coerce_timestamps=None)
    assert dict(catalog.ts_units(d, "events"))["ts"] == "ns"
    back = catalog.load_table(spark, d, "events")
    assert [f.dataType for f in back.schema.fields if f.name == "ts"] == [
        __import__("pyspark.sql.types", fromlist=["TimestampType"]).TimestampType()
    ]
    got = {r["event_id"]: r["ts"] for r in back.collect()}
    want = dict(zip(src["event_id"], src["ts"]))
    assert all(got[k] == want[k].to_pydatetime() for k in want)


def test_events_timeline_span_is_days(spark) -> None:
    """Semantic backstop: a unit mis-normalization compresses/stretches the
    timeline 1000x. TESTDATA.md's events span ~30 days; assert the loaded
    (normalized) span is in [2 days, 10 years] — any unit slip lands far
    outside this band (43 min or 82 years)."""
    from onebrc_spark.sources import catalog

    events = catalog.load_table(spark, SF_DIR, "events")
    lo, hi = events.selectExpr("min(ts)", "max(ts)").first()
    span_days = (hi - lo).total_seconds() / 86400.0
    assert 2.0 <= span_days <= 3650.0, f"events span {span_days:.3f} days"


def test_corpus_semantic_contracts(spark) -> None:
    """Data properties the curation operators' NON-VACUITY rests on — if a
    testdata regeneration drops one, this names the broken assumption
    directly instead of surfacing as a mysterious 0-row oracle result.

    - ≥ 2 sources (text_source_overlap needs pairs to compare);
    - every document text non-empty (mm_feature_extract's norm audit,
      tokenizing ops);
    - byte-identical duplicate texts exist ACROSS the is_new hash split
      (dedup_incremental_admission's exact gate must fire);
    - embeddings: fixed dim, ≥ 2 cluster labels (sim_semantic_prune,
      IVF/kNN queries)."""
    from pyspark.sql import functions as F

    from onebrc_spark.operators.incremental import _is_new_sqlx
    from onebrc_spark.sources.catalog import load_table

    dirs = dict.fromkeys((SMOKE_SF_DIR, SF_DIR, _SF01_DIR))
    for sf_dir in (d for d in dirs if os.path.isdir(d)):
        docs = load_table(spark, sf_dir, "documents")
        n_sources = docs.select("source").distinct().count()
        assert n_sources >= 2, f"{sf_dir}: only {n_sources} source(s)"
        n_empty = docs.filter(F.length("text") == 0).count()
        assert n_empty == 0, f"{sf_dir}: {n_empty} empty document texts"

        # Byte-identical duplicates only exist at sf0.1 (measured: 8 dup
        # texts there, 0 at the smaller SFs — the near gate carries
        # non-vacuity at sf0.01). Pin the property where it holds so a
        # regeneration that drops sf0.1's exact dups is named here.
        if sf_dir == _SF01_DIR:
            tagged = docs.select("text", F.expr(_is_new_sqlx("doc_id")).alias("nw"))
            cross = (
                tagged.filter(F.col("nw"))
                .select("text")
                .join(tagged.filter(~F.col("nw")).select("text"), "text", "left_semi")
                .count()
            )
            assert cross > 0, f"{sf_dir}: no exact dup crosses the is_new split"

        emb = load_table(spark, sf_dir, "embeddings")
        dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
        assert len(dims) == 1, f"{sf_dir}: ragged embedding dims {dims}"
        n_labels = emb.select("label").distinct().count()
        assert n_labels >= 2, f"{sf_dir}: only {n_labels} embedding label(s)"


def test_orders_span_both_month_parities(spark) -> None:
    """dq_snapshot_drift splits orders into month-parity snapshots; its
    drift stats are only meaningful when BOTH sides are populated (the
    GREATEST(total,1) guard keeps a one-sided corpus defined, but then the
    audit is vacuous). Pin the property so a testdata regeneration to a
    single-month date range is named here, not as a mysterious all-zero
    rate column."""
    from pyspark.sql import functions as F

    from onebrc_spark.sources.catalog import load_table

    for sf_dir in {SMOKE_SF_DIR, SF_DIR, _SF01_DIR}:
        if not os.path.isdir(sf_dir):
            continue
        o = load_table(spark, sf_dir, "orders")
        parities = (
            o.select((F.month("o_orderdate") % 2).alias("p")).distinct().count()
        )
        assert parities == 2, f"{sf_dir}: orders cover {parities} month parity(ies)"
