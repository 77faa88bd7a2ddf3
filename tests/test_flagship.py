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
    df = read_measurements(spark, golden_path)
    out = onebrc_aggregate(df, "station", "measure").collect()
    rows = {r["station"]: (r["min"], r["mean"], r["max"]) for r in out}
    assert list(r["station"] for r in out) == sorted(rows)  # station-sorted
    assert rows["Hamburg"] == (1.0, 15.7, 34.2)  # mean 47.2/3 = 15.733→15.7
    assert rows["Zürich"] == (-5.0, 2.5, 10.0)
    assert rows["Bulawayo"] == (8.9, 8.9, 8.9)
    assert rows["St. John's"] == (15.2, 15.2, 15.2)


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


@pytest.mark.parametrize(
    "line, arrow_error",
    [("Bulawayo;xyz", "ArrowInvalid"), ("no-separator-here", "ArrowInvalid"), ("Bulawayo;", None)],
)
def test_fast_readers_on_malformed(spark, tmp_path, line, arrow_error):
    """Neither trusted-input path validates, and the JVM reader does not
    NULL a malformed line either: under ANSI its temperature cast fails the
    query. The Arrow twin fails with a pyarrow CSV error instead, except
    that it reads an empty temperature as NULL (both docstrings)."""
    from onebrc_spark.sources.onebrc import onebrc_scan_agg_arrow

    bad = tmp_path / "bad.txt"
    bad.write_text(f"Hamburg;12.0\n{line}\n")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        read_measurements_fast(spark, str(bad)).collect()
    arrow = onebrc_scan_agg_arrow(spark, str(bad))
    if arrow_error:
        with pytest.raises(Exception, match=arrow_error):
            arrow.collect()
    else:
        assert arrow.collect()[0] == ("Bulawayo", None, None, None)


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


def test_arrow_scan_agg_matches_jvm_path(spark, tmp_path):
    """r13 optimization round: the Arrow-native fused scan+partial-agg
    (onebrc_scan_agg_arrow) must return IDENTICAL rows to the JVM path —
    golden file (incl. multi-byte station names, negative temps) and a
    generated multi-file corpus large enough to exercise the byte-range
    chunking + newline snap."""
    from onebrc_spark.sources.onebrc import (
        onebrc_scan_agg_arrow,
        read_measurements_fast,
        write_measurements,
    )

    p = tmp_path / "golden.txt"
    p.write_text(GOLDEN, encoding="utf-8")
    jvm = onebrc_aggregate(
        read_measurements_fast(spark, str(p)), "station", "measure"
    ).collect()
    arrow = onebrc_scan_agg_arrow(spark, str(p)).collect()
    assert arrow == jvm

    big = str(tmp_path / "gen")
    write_measurements(generate_measurements(spark, 120_000, seed=11, num_partitions=3), big)
    jvm2 = onebrc_aggregate(
        read_measurements_fast(spark, big), "station", "measure"
    ).collect()
    # force multi-chunk per file to exercise the snap path
    import onebrc_spark.sources.onebrc as ob

    prev = ob._ARROW_SCAN_CHUNK
    ob._ARROW_SCAN_CHUNK = 64 * 1024
    try:
        arrow2 = ob.onebrc_scan_agg_arrow(spark, big).collect()
    finally:
        ob._ARROW_SCAN_CHUNK = prev
    assert arrow2 == jvm2


def test_arrow_scan_boundary_newline_not_dropped(spark, tmp_path):
    """r14 (ADVICE high): when a chunk boundary lands exactly AFTER a
    newline (file byte end-1 == '\\n'), the line starting at `end` must be
    owned by exactly one chunk. The pre-fix snap searched from end-start-1,
    so the left chunk cut at `end` while the right chunk skipped through
    its first newline — that line was dropped by both. Force it
    deterministically with fixed-width lines and a step that is an exact
    multiple of the line width."""
    import onebrc_spark.sources.onebrc as ob

    # 2000 alternating 7-byte lines: every chunk boundary below is a
    # multiple of 7, i.e. byte end-1 is always '\n'
    lines = ["AB;1.0\n" if i % 2 == 0 else "AB;3.0\n" for i in range(2000)]
    p = tmp_path / "aligned.txt"
    p.write_text("".join(lines), encoding="utf-8")
    assert p.stat().st_size == 14_000

    prev = ob._ARROW_SCAN_CHUNK
    ob._ARROW_SCAN_CHUNK = 3_500  # n=4, step=3500 = 500 * 7
    try:
        rows = ob.onebrc_scan_agg_arrow(spark, str(p)).collect()
    finally:
        ob._ARROW_SCAN_CHUNK = prev
    assert rows == [("AB", 1.0, 2.0, 3.0)]


def test_arrow_scan_empty_input(spark, tmp_path):
    """r14 (ADVICE low): all-empty input returns an empty aggregate frame
    like the JVM path, not a repartition(0) error."""
    from onebrc_spark.sources.onebrc import onebrc_scan_agg_arrow

    p = tmp_path / "empty.txt"
    p.write_text("")
    assert onebrc_scan_agg_arrow(spark, str(p)).collect() == []
