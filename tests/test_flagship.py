"""Flagship 1BRC semantics on real `station;temp` text (SURVEY §5.2 #2-#3).

Golden-output test in the style of the reference's only unit test
(`rangnargrootkeorkamp.rs:361-376`) lifted to query level: a tiny fixed
input with hand-computed expected min/mean/max, plus the invariant checks
sketched at `thebracket.rs:167`.
"""

from __future__ import annotations

import pytest

from onebrc_spark.operators.aggregates import onebrc_aggregate
from onebrc_spark.sources.generator import NUM_STATIONS, generate_measurements
from onebrc_spark.sources.onebrc import (
    format_report,
    read_measurements,
    read_measurements_fast,
    write_measurements,
)

GOLDEN = """\
Hamburg;12.0
Bulawayo;8.9
Palembang;38.8
Hamburg;34.2
St. John's;15.2
Cracow;12.6
Zürich;-5.0
Hamburg;1.0
Zürich;10.0
"""


@pytest.fixture(scope="module")
def golden_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("onebrc") / "measurements.txt"
    p.write_text(GOLDEN, encoding="utf-8")
    return str(p)


def test_golden_min_mean_max(spark, golden_path):
    for read in (read_measurements, read_measurements_fast):
        df = read(spark, golden_path)
        out = onebrc_aggregate(df, "station", "measure").collect()
        rows = {r["station"]: (r["min"], r["mean"], r["max"]) for r in out}
        assert list(r["station"] for r in out) == sorted(rows)  # station-sorted
        assert rows["Hamburg"] == (1.0, 15.7, 34.2)  # mean 47.2/3 = 15.733→15.7
        assert rows["Zürich"] == (-5.0, 2.5, 10.0)
        assert rows["Bulawayo"] == (8.9, 8.9, 8.9)
        assert rows["St. John's"] == (15.2, 15.2, 15.2)


def test_fast_reader_matches_csv_reader_on_generated_corpus(spark, tmp_path):
    """The trusted-input reader returns the validating reader's aggregate
    on a generated multi-file corpus (3 files, every station)."""
    path = str(tmp_path / "gen")
    write_measurements(
        generate_measurements(spark, 120_000, seed=11, num_partitions=3), path
    )
    fast, csv = (
        onebrc_aggregate(read(spark, path), "station", "measure").collect()
        for read in (read_measurements_fast, read_measurements)
    )
    assert len(fast) == NUM_STATIONS
    assert fast == csv


def test_golden_report_format(spark, golden_path):
    df = read_measurements(spark, golden_path)
    agg = onebrc_aggregate(df, "station", "measure")
    report = format_report(agg).collect()[0]["report"]
    assert report.startswith("{Bulawayo=8.9/8.9/8.9, ")
    assert "Zürich=-5.0/2.5/10.0" in report
    assert report.endswith("}")


def test_failfast_on_malformed(spark, tmp_path):
    bad = tmp_path / "bad.txt"
    bad.write_text("Hamburg;12.0\nno-separator-here\n")
    df = read_measurements(spark, str(bad))
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


@pytest.mark.parametrize("line", ["Bulawayo;xyz", "no-separator-here", "Bulawayo;"])
def test_fast_readers_on_malformed(spark, tmp_path, line):
    """The trusted-input reader does not validate, and it does not NULL a
    malformed line either: under ANSI its temperature cast fails the query
    (read_measurements_fast docstring)."""
    bad = tmp_path / "bad.txt"
    bad.write_text(f"Hamburg;12.0\n{line}\n")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        read_measurements_fast(spark, str(bad)).collect()


def test_generator_shape_and_invariants(spark):
    df = generate_measurements(spark, 50_000, seed=7)
    agg = onebrc_aggregate(df, "station", "measure")
    rows = agg.collect()
    # Every station drawn at 50k rows over 413 stations (coupon collector
    # says ~all); at minimum a large majority must appear.
    assert len(rows) >= NUM_STATIONS - 5
    for r in rows:
        assert r["min"] <= r["mean"] <= r["max"]  # thebracket.rs:167 spirit
    total = df.count()
    assert total == 50_000
