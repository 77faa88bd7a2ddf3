"""Planted-boundary property tests for the window family (VERDICT r9 #2).

Round 9's planted-boundary tests found a 9-round-latent ST3 oracle bug
(exact-gap events split sessions in the oracle, merged them in Spark) and
an engine INT96 self-ingestion bug — both latent because the random
fixtures never land a value exactly ON a boundary. This module extends the
class to the remaining window-family ops:

  ST1  events exactly on tumbling 1-hour bucket edges (window is [start, end))
  ST2  events exactly on sliding 15-min slide edges (4 windows, edge set shifts)
  ST4  an event exactly at max(ts) - 7d (the `>=` keep bound is inclusive)
  W3   orders exactly 30/31 days apart + same-day peers in the RANGE frame
       (RANGE BETWEEN 30 PRECEDING is value-inclusive; peers share frames)

Round 11 extends the class to numeric/rounding and admission ties
(VERDICT r10 #5) — and the FIRST run of the report test found a live bug,
the third round in a row this program has caught one: DuckDB round()
keeps IEEE -0.0 (format '-0.0') where Spark's BigDecimal round has no
signed zero, diverging the report string for any station min/max in
(-0.05, 0); the oracles now fold with `+ 0` and the tests pin the fold:

  F1/F3/S8  report min/mean/max on exact .x5 half-ties, both signs, plus
            the signed-zero band, end-to-end through the formatted line
  A10/W1    ntile bucket-edge ties (duplicate-price runs straddling
            bucket boundaries, n not divisible by 10)
  X3        sim_label_centroid mean in (-5e-5, 0) — the signed-zero fold
  A10       agg_rank_correlation: a constructed n=70 rank permutation
            landing spearman exactly in (-5e-5, 0)
  X11e      token-budget admission with cum == budget exactly (kept)
  X11d      domain cap cutting purely on the row_number tiebreak
  X4        hash-split docs exactly on the 12/14 bucket edges

Round 12 extends it to the containment family (VERDICT r11 #5 — the r12
census restructure changed the pair-generation path, so the classes most
worth pinning on the new shape):

  X2c       a doc pair landing EXACTLY on the 0.9 overlap threshold
            (shared·10 == 9·min in exact integers — included), the
            just-below pair (excluded), and the df cap edge: a gram at
            df == cap survives the census (its full C(cap,2) clique is
            real output), df == cap+1 vanishes entirely
  X3        the FOURTH live catch: an integer-coordinate vector pair
            whose cosine lands bit-exactly on double('0.1250005') —
            Spark round(·,6) reads the decimal shortest-string (HALF_UP
            → 0.125001) while DuckDB rounds the binary value (→ 0.125);
            the similarity family now quantizes with floor(x·1e6+0.5)
            (cos_round6), planted end-to-end through sim_knn_bruteforce

Unlike tests/test_properties.py's suites (engine vs Python reference), each
test here runs the FULL TRIANGLE on the planted data: the Spark query, the
registered DuckDB oracle over views on the same parquet, and an O(n) per-row
Python reference — because the ST3 bug lived in the oracle, not the engine,
and an engine-vs-reference check alone would have stayed green.

Fixture datetimes are timezone-aware UTC and every reference computation
derives from the original epoch integers (never naive .timestamp() — the
session timezone is pinned UTC but the SYSTEM timezone is not part of the
contract; ADVICE r9).
"""

from __future__ import annotations

import datetime
import random

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from onebrc_spark import registry

_SETTINGS = settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_ALL = registry.load_all()

_EVENTS_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)
_ORDERS_SCHEMA = (
    "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)


def _utc(sec: int) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(sec, tz=datetime.timezone.utc)


def _write(spark, tmp_path_factory, label, table, schema, rows):
    d = tmp_path_factory.mktemp("boundary") / label
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / f"{table}.parquet"))
    return d


def _oracle_rows(name: str, data_dir, tables: list[str]) -> set[tuple]:
    """Run query `name`'s registered DuckDB oracle over views on the planted
    parquet (Spark writes a directory, so the view globs part files)."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{data_dir}/{t}.parquet/*.parquet'"
            )
        return {tuple(r) for r in con.sql(_ALL[name].oracle).fetchall()}
    finally:
        con.close()


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_tumbling_window_exact_hour_boundary(spark, seed, tmp_path_factory):
    """ST1: Spark's window() is [start, end) — an event exactly on the hour
    belongs to the NEW bucket. Plants exact hour marks and their ±1 s
    neighbors among random interior points."""
    from onebrc_spark.operators.eventtime import evt_tumbling_window

    rng = random.Random(seed)
    hour = 3600
    base = (1_700_000_000 // hour) * hour
    secs = [base + rng.randrange(0, 6 * hour) for _ in range(40)]
    secs += [base, base + hour, base + 2 * hour,  # exact edges
             base + hour - 1, base + hour + 1]
    data = [
        (i, s, rng.choice(["view", "purchase", "click"]),
         float(rng.randrange(0, 200)) / 2.0)
        for i, s in enumerate(secs)
    ]
    rows = [(i, _utc(s), 0, et, v, "{}") for i, s, et, v in data]
    d = _write(spark, tmp_path_factory, f"tumb_{seed}", "events",
               _EVENTS_SCHEMA, rows)

    acc: dict = {}
    for _, s, et, v in data:
        key = (s - s % hour, et)
        n, cents = acc.get(key, (0, 0))
        acc[key] = (n + 1, cents + round(v * 100))
    expect = {(ws, et, n, cents / 100.0) for (ws, et), (n, cents) in acc.items()}

    got = {
        (r["window_start"], r["event_type"], r["n"], r["sum_value"])
        for r in evt_tumbling_window(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from per-row reference"
    assert _oracle_rows("evt_tumbling_window", d, ["events"]) == expect, (
        "DuckDB oracle diverges from per-row reference"
    )


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_sliding_window_exact_slide_boundary(spark, seed, tmp_path_factory):
    """ST2: 1 h wide / 15 min slide — every event lands in exactly the
    4 slide-aligned windows with start in (ts-3600, ts]. An event exactly
    on a slide mark makes its own mark a window START while the mark one
    hour earlier is excluded (start+3600 > ts is strict)."""
    from onebrc_spark.operators.eventtime import evt_sliding_window

    rng = random.Random(seed)
    slide, width = 900, 3600
    base = (1_700_000_000 // width) * width
    secs = [base + rng.randrange(0, 4 * width) for _ in range(40)]
    secs += [base, base + slide, base + width,  # exact slide + hour edges
             base + slide - 1, base + slide + 1]
    data = [(s, float(rng.randrange(0, 200)) / 2.0) for s in secs]
    rows = [(i, _utc(s), 0, "view", v, "{}") for i, (s, v) in enumerate(data)]
    d = _write(spark, tmp_path_factory, f"slide_{seed}", "events",
               _EVENTS_SCHEMA, rows)

    acc: dict = {}
    for s, v in data:
        last = s - s % slide
        for k in range(4):
            ws = last - slide * k
            if ws <= s < ws + width:
                n, cents = acc.get(ws, (0, 0))
                acc[ws] = (n + 1, cents + round(v * 100))
    expect = {(ws, n, cents / 100.0) for ws, (n, cents) in acc.items()}

    got = {
        (r["window_start"], r["n"], r["sum_value"])
        for r in evt_sliding_window(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from per-row reference"
    assert _oracle_rows("evt_sliding_window", d, ["events"]) == expect, (
        "DuckDB oracle diverges from per-row reference"
    )


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_watermark_exact_boundary_event_kept(spark, seed, tmp_path_factory):
    """ST4: the keep bound is `ts >= max(ts) - 7d` — an event EXACTLY seven
    days older than the newest event survives; one second older drops.
    Plants both, plus the max itself and random interior/straggler points."""
    from onebrc_spark.operators.eventtime import evt_watermark_late_drop

    rng = random.Random(seed)
    day = 86_400
    mx = 1_700_000_000 + rng.randrange(0, day)
    secs = [mx - rng.randrange(0, 14 * day) for _ in range(40)]
    secs += [mx, mx - 7 * day, mx - 7 * day - 1, mx - 7 * day + 1]
    data = [(s, rng.choice(["view", "purchase", "click"])) for s in secs]
    rows = [(i, _utc(s), 0, et, 1.0, "{}") for i, (s, et) in enumerate(data)]
    d = _write(spark, tmp_path_factory, f"wm_{seed}", "events",
               _EVENTS_SCHEMA, rows)

    acc: dict = {}
    for s, et in data:
        if s >= mx - 7 * day:
            acc[et] = acc.get(et, 0) + 1
    expect = set(acc.items())

    got = {
        (r["event_type"], r["n_kept"])
        for r in evt_watermark_late_drop(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from per-row reference"
    assert _oracle_rows("evt_watermark_late_drop", d, ["events"]) == expect, (
        "DuckDB oracle diverges from per-row reference"
    )


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_range_frame_exact_30day_boundary(spark, seed, tmp_path_factory):
    """W3: RANGE BETWEEN 30 PRECEDING AND CURRENT ROW over day offsets —
    an order exactly 30 days earlier is IN the frame (value bound is
    inclusive), 31 days is out, and same-day orders are peers that enter
    each other's frames regardless of row order. Plants all three."""
    from onebrc_spark.operators.windows import window_range_frame

    rng = random.Random(seed)
    days: list[tuple[int, int]] = []  # (custkey, day offset from 1995-01-01)
    for cust in range(3):
        anchor = rng.randrange(40, 200)
        days += [(cust, anchor), (cust, anchor - 30),  # exactly 30 apart
                 (cust, anchor - 31),                  # just outside
                 (cust, anchor), (cust, anchor)]       # same-day peers
        days += [(cust, rng.randrange(0, 365)) for _ in range(rng.randrange(3, 9))]
    epoch0 = int(
        datetime.datetime(1995, 1, 1, tzinfo=datetime.timezone.utc).timestamp()
    )
    data = [
        (okey, cust, dd, float(rng.randrange(100, 100_000)) / 100.0)
        for okey, (cust, dd) in enumerate(days)
    ]
    rows = [
        (okey, cust, "O", price, _utc(epoch0 + dd * 86_400), "1-URGENT")
        for okey, cust, dd, price in data
    ]
    d = _write(spark, tmp_path_factory, f"rng_{seed}", "orders",
               _ORDERS_SCHEMA, rows)

    expect = set()
    for okey, cust, dd, _ in data:
        cents = sum(
            round(p * 100)
            for _, c2, d2, p in data
            if c2 == cust and dd - 30 <= d2 <= dd
        )
        expect.add((cust, okey, cents / 100.0))

    got = {
        (r["o_custkey"], r["o_orderkey"], r["spend_30d"])
        for r in window_range_frame(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from per-row reference"
    assert _oracle_rows("window_range_frame", d, ["orders"]) == expect, (
        "DuckDB oracle diverges from per-row reference"
    )


# l_shipdate must exist in the planted parquet: the catalog's per-directory
# timestamp-unit footer sniff requires the table's ts column physically
# present even when the query never touches it.
_LINEITEM_SCHEMA4 = (
    "l_orderkey LONG, l_linenumber INT, l_extendedprice DOUBLE, "
    "l_shipdate TIMESTAMP"
)


def _dec_round1(v: float) -> str:
    """Shortest-decimal HALF_UP to 1 dp — the rounding BOTH engines
    implement (Spark: BigDecimal.valueOf(double) + HALF_UP; DuckDB: decimal
    round, probed live in this round): 12.35 -> '12.4' and -12.35 ->
    '-12.4' even though the binary double is 12.34999…, where a
    binary-value reference (python round()) would say 12.3. The reference
    here is decimal-string rounding ON PURPOSE — it is the contract.

    Zero is UNSIGNED in the contract: Spark's BigDecimal round has no
    -0.0, and the DuckDB oracle folds its signed round output with `+ 0`
    (the fold was ADDED when this test's first run caught the live
    '-0.0' vs '0.0' report divergence on a planted (-0.05, 0) min)."""
    import decimal

    q = decimal.Decimal(repr(v)).quantize(
        decimal.Decimal("0.1"), rounding=decimal.ROUND_HALF_UP
    )
    return "0.0" if q == 0 else str(q)


def _mean1dp(cents_sum: int, n: int) -> str:
    """The flagship integer half-away-from-zero mean, as a 1-dp string
    (mirrors onebrc_aggregate's floor arithmetic; the engine's `+ 0.0`
    folds a would-be -0.0 to 0.0)."""
    t = (2 * abs(cents_sum) + 10 * n) // (20 * n)
    m = t if cents_sum >= 0 else -t
    if m == 0:
        return "0.0"
    sign = "-" if m < 0 else ""
    return f"{sign}{abs(m) // 10}.{abs(m) % 10}"


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_report_formatting_exact_half_ties(spark, seed, tmp_path_factory):
    """F1/F3/S8 (VERDICT r10 #5): the end-to-end report line on stations
    whose min/max land EXACTLY on .x5 rounding ties (both signs) and whose
    integer-cents mean lands exactly between tenths. The registry
    normalizer and determinism lint MANAGE the Spark-vs-DuckDB rounding
    divergence class; this test EXECUTES planted ties through
    onebrc_report and pins that all three sides produce the same line:
    HALF_UP away from zero on the shortest-decimal representation."""
    from onebrc_spark.operators.aggregates import onebrc_report

    rng = random.Random(seed)
    per_station: dict[int, list[float]] = {
        # min tie (positive .x5), max tie, both engines must say 12.4/3.6
        1: [12.35, 3.55],
        # negative min tie: -12.35 -> -12.4 (away from zero)
        2: [-12.35, 3.55],
        # mean tie between tenths: (12.30+12.40)/2 = 12.35 -> 12.4
        3: [12.30, 12.40],
        # negative mean tie: -12.35 -> -12.4
        4: [-12.30, -12.40],
        # near-zero band: -0.04 rounds to the '-0.0' line on all sides
        5: [-0.04, -0.04],
    }
    for station in range(6, 6 + rng.randrange(2, 5)):
        per_station[station] = [
            float(rng.randrange(-20_000, 20_000)) / 100.0
            for _ in range(rng.randrange(1, 6))
        ]
    base = 1_700_000_000
    rows = []
    eid = 0
    for station, vals in per_station.items():
        for v in vals:
            rows.append((eid, _utc(base + eid), station, "view", v, "{}"))
            eid += 1
    d = _write(spark, tmp_path_factory, f"rep_{seed}", "events",
               _EVENTS_SCHEMA, rows)

    lines = []
    for station in sorted(per_station):
        vals = per_station[station]
        cents = sum(round(v * 100) for v in vals)
        lines.append(
            f"{station}={_dec_round1(min(vals))}/"
            f"{_mean1dp(cents, len(vals))}/{_dec_round1(max(vals))}"
        )
    expect = "{" + ", ".join(lines) + "}"

    got = onebrc_report(spark, str(d)).collect()
    assert len(got) == 1 and got[0]["report"] == expect, (
        f"engine report diverges from decimal-HALF_UP reference:\n"
        f"  got    {got[0]['report']!r}\n  expect {expect!r}"
    )
    oracle = _oracle_rows("onebrc_report", d, ["events"])
    assert oracle == {(expect,)}, (
        f"DuckDB oracle diverges from decimal-HALF_UP reference:\n"
        f"  got    {oracle!r}\n  expect {expect!r}"
    )


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_equidepth_ntile_bucket_edge_ties(spark, seed, tmp_path_factory):
    """A10/W1 (VERDICT r10 #5): ntile bucket-edge ties in
    agg_equidepth_histogram. Plants a duplicate-price run long enough to
    straddle several bucket boundaries and a row count NOT divisible by 10
    (the first n%10 buckets take the extra row — both engines implement
    exactly that split), with the full (price, orderkey, linenumber)
    tiebreak making the split deterministic. Triangle: engine, DuckDB
    oracle, and an O(n) Python reference implementing the ntile contract
    from scratch."""
    from onebrc_spark.operators.aggregates import agg_equidepth_histogram

    rng = random.Random(seed)
    n_total = rng.randrange(41, 67)  # never divisible by 10 is NOT forced —
    # divisible counts are a valid (boring) case; ties still bind
    dup_price = float(rng.randrange(100, 5_000)) / 100.0
    n_dup = rng.randrange(12, 20)  # spans >=2 bucket edges at these n
    data = []
    for i in range(n_total):
        price = dup_price if i < n_dup else (
            float(rng.randrange(100, 9_999_00)) / 100.0
        )
        data.append((i + 1, (i % 7) + 1, price))
    rng.shuffle(data)  # physical order must not matter
    ship = _utc(1_700_000_000)
    rows = [(okey, ln, price, ship) for okey, ln, price in data]
    d = _write(spark, tmp_path_factory, f"ntile_{seed}", "lineitem",
               _LINEITEM_SCHEMA4, rows)

    ordered = sorted(data, key=lambda r: (r[2], r[0], r[1]))
    q, r = divmod(len(ordered), 10)
    expect = set()
    idx = 0
    for b in range(1, 11):
        size = q + (1 if b <= r else 0)
        chunk = ordered[idx: idx + size]
        idx += size
        if not chunk:
            continue
        prices = [c[2] for c in chunk]
        expect.add((b, len(chunk), min(prices), max(prices)))

    got = {
        (r2["bucket"], r2["n"], r2["lo"], r2["hi"])
        for r2 in agg_equidepth_histogram(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from ntile-contract reference"
    assert _oracle_rows("agg_equidepth_histogram", d, ["lineitem"]) == expect, (
        "DuckDB oracle diverges from ntile-contract reference"
    )


_EMBEDDINGS_SCHEMA = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"


def test_centroid_signed_zero_fold(spark, tmp_path_factory):
    """r11 signed-zero class, executed end-to-end for sim_label_centroid:
    a label whose dim-1 mean lands in (-5e-5, 0) rounds to -0.0 in DuckDB
    (repr '-0.0' in the driver hash) but +0.0 in Spark (BigDecimal has no
    signed zero). The oracle's `+ 0` fold makes both sides 0.0."""
    rows = [
        # label 0: dim-1 mean = -0.00002 -> round(.,4) = signed zero tie
        (1, [-0.00004, 0.5] + [0.0] * 62, 0),
        (2, [0.0, 0.5] + [0.0] * 62, 0),
        # label 1: ordinary values (control row)
        (3, [0.25, -0.125] + [0.0] * 62, 1),
    ]
    d = _write(spark, tmp_path_factory, "centroid_zero", "embeddings",
               _EMBEDDINGS_SCHEMA, rows)
    from onebrc_spark.operators.similarity import sim_label_centroid

    got = {
        (r["label"], r["n_vecs"], repr(r["centroid_d1"]), repr(r["centroid_d2"]))
        for r in sim_label_centroid(spark, str(d)).collect()
    }
    expect = {(0, 2, "0.0", "0.5"), (1, 1, "0.25", "-0.125")}
    assert got == expect, got
    oracle = {
        (r[0], r[1], repr(float(r[2])), repr(float(r[3])))
        for r in _oracle_rows("sim_label_centroid", d, ["embeddings"])
    }
    assert oracle == expect, (
        f"DuckDB oracle leaks signed zero (the + 0 fold is gone?): {oracle}"
    )


def test_spearman_signed_zero_fold(spark, tmp_path_factory):
    """r11 signed-zero class for agg_rank_correlation: a constructed rank
    permutation of n=70 with sum(d^2) = 57156 gives spearman
    1 - 6*57156/(70*(70^2-1)) = -1.7496e-5 — inside (-5e-5, 0), so
    round(., 4) is the signed-zero tie. Permutations constrain sum(d^2)
    to EVEN values, which makes n >= 70 the smallest grid where an
    achievable value lands in the open interval (granularity
    12/(n(n^2-1)); at n=60 the closest even sum overshoots to -5.56e-5).
    DuckDB rounds to -0.0, Spark to 0.0; the oracle's `+ 0` folds them."""
    n = 70
    perm = list(range(n))
    for a, b in [(i, n - 1 - i) for i in range(7)] + [(7, 32), (33, 40), (41, 44)]:
        perm[a], perm[b] = perm[b], perm[a]
    d2 = sum((i - perm[i]) ** 2 for i in range(n))
    assert d2 == 57156 and -5e-5 < 1 - 6 * d2 / (n * (n * n - 1)) < 0
    ship = _utc(1_700_000_000)
    rows = [
        # quantity ranks = i, price ranks = perm[i]; grid-friendly doubles
        (i + 1, 1, "N", float(i), float(perm[i]), ship)
        for i in range(n)
    ]
    schema = (
        "l_orderkey LONG, l_linenumber INT, l_returnflag STRING, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_shipdate TIMESTAMP"
    )
    d = _write(spark, tmp_path_factory, "spearman_zero", "lineitem",
               schema, rows)
    from onebrc_spark.operators.aggregates import agg_rank_correlation

    got = [
        (r["l_returnflag"], r["n"], repr(r["spearman"]))
        for r in agg_rank_correlation(spark, str(d)).collect()
    ]
    assert got == [("N", 70, "0.0")], got
    oracle = [
        (r[0], r[1], repr(float(r[2])))
        for r in _oracle_rows("agg_rank_correlation", d, ["lineitem"])
    ]
    assert oracle == [("N", 70, "0.0")], (
        f"DuckDB oracle leaks signed zero (the + 0 fold is gone?): {oracle}"
    )


_DOCUMENTS_SCHEMA = (
    "doc_id LONG, source STRING, lang STRING, n_chars INT, text STRING"
)


def test_token_budget_exact_boundary(spark, tmp_path_factory):
    """X11e: the admission bound is `cum <= 800` on exact-integer token
    counts — a document whose running sum lands EXACTLY on the budget is
    KEPT, and the next one drops. Plants the exact-landing case, the
    one-over case (a doc whose admission would make cum = 801), and a
    source whose first document alone exceeds the budget (n_kept = 0).
    Triangle: engine, registered oracle, O(n) reference."""
    from onebrc_spark.operators.mlprep import _TOKEN_BUDGET, ml_token_budget

    assert _TOKEN_BUDGET == 800  # the plants below encode this bound
    def doc(tokens: int) -> str:
        return " ".join(f"t{i}" for i in range(tokens))

    rows = [
        # source a: 500 + 300 = exactly 800 (kept), then 1 (dropped at 801)
        (1, "a", "en", 1, doc(500)),
        (2, "a", "en", 1, doc(300)),
        (3, "a", "en", 1, doc(1)),
        # source b: 799 + 1 = exactly 800 via a 1-token doc, then 200 drops
        (4, "b", "en", 1, doc(799)),
        (5, "b", "en", 1, doc(1)),
        (6, "b", "en", 1, doc(200)),
        # source c: first doc alone is 801 — nothing admitted
        (7, "c", "en", 1, doc(801)),
    ]
    d = _write(spark, tmp_path_factory, "budget_edge", "documents",
               _DOCUMENTS_SCHEMA, rows)

    expect = set()
    for src in ("a", "b", "c"):
        cum, kept, dropped, kept_tokens = 0, 0, 0, 0
        for _, s, _, _, text in rows:
            if s != src:
                continue
            n = len(text.split())
            cum += n
            if cum <= 800:
                kept += 1
                kept_tokens += n
            else:
                dropped += 1
        expect.add((src, kept, dropped, kept_tokens))
    assert ("a", 2, 1, 800) in expect and ("b", 2, 1, 800) in expect
    assert ("c", 0, 1, 0) in expect

    got = {
        (r["source"], r["n_kept"], r["n_dropped"], r["kept_tokens"])
        for r in ml_token_budget(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from per-row reference"
    assert _oracle_rows("ml_token_budget", d, ["documents"]) == expect, (
        "DuckDB oracle diverges from per-row reference"
    )


def test_hash_split_bucket_edges(spark, tmp_path_factory):
    """X4 split contract at the exact bucket edges: bucket 11 is the LAST
    train, 12 the FIRST val, 13 the last val, 14 the first test. Plants
    doc_ids whose md5 first hex digit lands exactly on each edge (searched:
    md5('22')[0]='b'=11, md5('0')[0]='c'=12, md5('10')[0]='d'=13,
    md5('3')[0]='e'=14, md5('44')[0]='f'=15, md5('27')[0]='0'=0) and pins
    all three sides on the per-split census."""
    import hashlib

    plants = {22: "train", 0: "val", 10: "val", 3: "test", 44: "test",
              27: "train"}
    for doc_id, split in plants.items():
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[0], 16)
        want = "train" if b < 12 else ("val" if b < 14 else "test")
        assert want == split, (doc_id, b)
    rows = [
        (doc_id, "s", "en", 10 + doc_id, "x y z") for doc_id in plants
    ]
    d = _write(spark, tmp_path_factory, "split_edge", "documents",
               _DOCUMENTS_SCHEMA, rows)
    from onebrc_spark.operators.mlprep import ml_hash_split

    expect = set()
    for split in ("train", "val", "test"):
        ids = [i for i, s in plants.items() if s == split]
        expect.add((split, "en", len(ids), sum(10 + i for i in ids)))

    got = {
        (r["split"], r["lang"], r["n_docs"], r["total_chars"])
        for r in ml_hash_split(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from bucket-edge reference"
    assert _oracle_rows("ml_hash_split", d, ["documents"]) == expect, (
        "DuckDB oracle diverges from bucket-edge reference"
    )


def test_domain_cap_exact_rank_tie(spark, tmp_path_factory):
    """X11d: the cap is `row_number() <= 10` under (n_tokens DESC, doc_id)
    — a source with EXACTLY 10 docs keeps all of them; an 11-doc source
    drops precisely the one that loses the deterministic tiebreak. Plants
    an all-equal-token-count source so the cut falls entirely on the
    doc_id tiebreak (rank 10 = doc_id 10 kept, doc_id 11 dropped)."""
    from onebrc_spark.operators.mlprep import _DOMAIN_CAP, ml_domain_cap

    assert _DOMAIN_CAP == 10  # the plants below encode this cap
    rows = []
    # source a: 11 docs, ALL 5 tokens — the cut is purely the tiebreak
    for i in range(1, 12):
        rows.append((i, "a", "en", 1, "t1 t2 t3 t4 t5"))
    # source b: exactly 10 docs, descending token counts (ranks = order)
    for i in range(1, 11):
        rows.append((100 + i, "b", "en", 1, " ".join(f"w{j}" for j in range(20 - i))))
    d = _write(spark, tmp_path_factory, "cap_edge", "documents",
               _DOCUMENTS_SCHEMA, rows)

    expect = set()
    for i in range(1, 11):  # doc 11 loses the tiebreak and drops
        expect.add(("a", i, 5, i))
    for i in range(1, 11):
        expect.add(("b", 100 + i, 20 - i, i))

    got = {
        (r["source"], r["doc_id"], r["n_tokens"], r["rnk"])
        for r in ml_domain_cap(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from cap-tie reference"
    assert _oracle_rows("ml_domain_cap", d, ["documents"]) == expect, (
        "DuckDB oracle diverges from cap-tie reference"
    )


def test_containment_exact_threshold_tie(spark, tmp_path_factory):
    """X2c (VERDICT r11 #5, on the r12 census shape): the admission bound
    compares EXACT integers — shared·10 >= 9·min — so a pair landing
    exactly AT overlap 0.9 is INCLUDED and there is no float boundary to
    flip across engines. Plants:

      * the exact tie: doc A with 10 distinct 3-grams, doc B sharing
        exactly 9 of them (shared·10 = 90 = 9·min(10, 21)) — included,
        overlap exactly 0.9;
      * the just-below pair: C (10 grams) / D sharing exactly 8
        (80 < 90) — excluded;
      * the df-cap edge on the census the r12 restructure introduced:
        64 single-gram docs sharing one gram (df == cap → kept; their
        C(64,2) containment-1.0 clique is all real output) and 65 docs
        sharing another (df == cap+1 → the gram vanishes, the docs have
        zero kept grams and generate nothing).

    Triangle: engine, registered oracle, O(n) per-row reference."""
    from itertools import combinations

    from onebrc_spark.operators.dedup import (
        _CONTAIN_DF_CAP,
        dedup_overlap_containment,
    )

    assert _CONTAIN_DF_CAP == 64  # the clique plants below encode the cap

    def words(prefix: str, n: int) -> list[str]:
        return [f"{prefix}{i}" for i in range(1, n + 1)]

    a = words("a", 12)                       # 10 grams
    b = words("a", 11) + words("b", 12)      # shares exactly 9 with A
    c = words("c", 12)                       # 10 grams
    dd = words("c", 10) + words("d", 12)     # shares exactly 8 with C
    rows = [
        (1, "s", "en", 1, " ".join(a)),
        (2, "s", "en", 1, " ".join(b)),
        (3, "s", "en", 1, " ".join(c)),
        (4, "s", "en", 1, " ".join(dd)),
    ]
    # df == cap: kept — the whole clique is real containment-1.0 output
    rows += [(200 + i, "s", "en", 1, "y1 y2 y3") for i in range(64)]
    # df == cap + 1: the gram is hot, the docs contribute nothing
    rows += [(300 + i, "s", "en", 1, "x1 x2 x3") for i in range(65)]
    d = _write(spark, tmp_path_factory, "contain_tie", "documents",
               _DOCUMENTS_SCHEMA, rows)

    # O(n) reference over distinct word-3-gram sets
    grams = {
        doc_id: {
            " ".join(t.split()[i : i + 3])
            for i in range(len(t.split()) - 2)
        }
        for doc_id, _, _, _, t in rows
    }
    df_census: dict[str, int] = {}
    for gs in grams.values():
        for g in gs:
            df_census[g] = df_census.get(g, 0) + 1
    kept = {
        doc_id: {g for g in gs if df_census[g] <= _CONTAIN_DF_CAP}
        for doc_id, gs in grams.items()
    }
    expect = set()
    for x, y in combinations(sorted(kept), 2):
        shared = len(kept[x] & kept[y])
        mn = min(len(kept[x]), len(kept[y]))
        if shared and mn and shared * 10 >= 9 * mn:
            expect.add((x, y, shared, len(kept[x]), len(kept[y]), shared / mn))
    assert (1, 2, 9, 10, 21, 0.9) in expect          # the exact tie
    assert not any(p[:2] == (3, 4) for p in expect)  # just-below excluded
    assert sum(1 for p in expect if p[0] >= 200) == 64 * 63 // 2  # cap clique
    assert not any(p[0] >= 300 or p[1] >= 300 for p in expect)   # hot gone

    got = {
        (r["doc_a"], r["doc_b"], r["shared"], r["n_a"], r["n_b"], r["overlap"])
        for r in dedup_overlap_containment(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from exact-tie reference"
    assert _oracle_rows("dedup_overlap_containment", d, ["documents"]) == expect, (
        "DuckDB oracle diverges from exact-tie reference"
    )


_EMBEDDINGS_SCHEMA = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"


def test_cosine_round_tie_divergence(spark, tmp_path_factory):
    """X3 (r12 boundary find — the program's FOURTH live catch): Spark's
    round() goes through BigDecimal.valueOf, i.e. the DECIMAL
    shortest-string view of the double, with HALF_UP; DuckDB rounds the
    BINARY value. For a double whose shortest repr lands exactly on a
    7th-digit 5 the views disagree: round(0.1250005, 6) = 0.125001 in
    Spark vs 0.125 in DuckDB (measured: 10,108 of the 900,000 k/1e7 ties
    diverge). Such cosines are EXACTLY constructible from
    integer-coordinate embeddings — u = (237, 3116, 0...), v = (-1339,
    503, 2862, 55, 1, 0...) give dot = 1250005, |u||v| = 1e7, every
    intermediate double exact, so cosine() lands bit-exactly on
    double('0.1250005') in both engines. The similarity family therefore
    quantizes with floor(x·1e6 + 0.5)/1e6 (cos_round6 — binary ops only,
    identical in both engines; the sim_embedding_quantize idiom), and this
    test pins (a) the planted divergence in the raw primitives, (b)
    end-to-end agreement of sim_knn_bruteforce engine/oracle/O(n)
    reference on the planted tie."""
    import math

    import duckdb as _duck
    from pyspark.sql import functions as F

    from onebrc_spark.operators.similarity import _KNN_K, sim_knn_bruteforce

    u = [237.0, 3116.0] + [0.0] * 62
    v = [-1339.0, 503.0, 2862.0, 55.0, 1.0] + [0.0] * 59
    dot = sum(a * b for a, b in zip(u, v))
    na, nb = math.sqrt(sum(a * a for a in u)), math.sqrt(sum(b * b for b in v))
    assert (dot, na * nb) == (1250005.0, 1e7)  # exact construction
    tie = dot / (na * nb)
    assert repr(tie) == "0.1250005"

    # (a) the primitive divergence this class is about, asserted live
    spark_round = spark.range(1).select(
        F.round(F.lit(tie), 6).alias("r")
    ).collect()[0]["r"]
    duck_round = _duck.sql(f"select round({tie!r}::DOUBLE, 6)").fetchone()[0]
    assert spark_round == 0.125001 and duck_round == 0.125, (
        spark_round,
        duck_round,
    )  # if either engine changes its round semantics, revisit cos_round6

    # (b) the registered query on the planted pair: engine, oracle and a
    # floor-quantized O(n) reference must agree on the emitted cos_sim.
    # vec 0 is the only query (vec_id < 10); 10..12 are its neighbor pool
    # (fewer than _KNN_K+... so every neighbor ranks).
    w = [3125.0] + [0.0] * 63  # cos(u, w) = 237/3125... exact but unplanted
    rows = [
        (0, u, 0),
        (10, v, 0),   # the planted 0.1250005 tie
        (11, w, 0),
        (12, [0.0, 3200.0] + [0.0] * 62, 0),  # cos = 3116*3200/1e7 = 0.99712
    ]
    d = _write(spark, tmp_path_factory, "cos_tie", "embeddings",
               _EMBEDDINGS_SCHEMA, rows)

    def quant6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    expect = set()
    ranked = []
    for vid, vec, _ in rows[1:]:
        c = sum(a * b for a, b in zip(u, vec))
        n2 = math.sqrt(sum(x * x for x in vec))
        ranked.append((vid, quant6(c / (na * n2))))
    ranked.sort(key=lambda t: (-t[1], t[0]))
    for rn, (vid, cs) in enumerate(ranked[:_KNN_K], start=1):
        expect.add((0, vid, cs, rn))
    assert (0, 10, 0.125, 1 + len([1 for _, c in ranked if c > 0.125])) in expect

    got = {
        (r["qid"], r["nid"], r["cos_sim"], r["rn"])
        for r in sim_knn_bruteforce(spark, str(d)).collect()
    }
    assert got == expect, "engine diverges from floor-quantized reference"
    assert _oracle_rows("sim_knn_bruteforce", d, ["embeddings"]) == expect, (
        "DuckDB oracle diverges from floor-quantized reference"
    )

    # threshold tie at 0.38 (dedup_embedding_neardup's bound): the exact
    # 0.3799995 cosine quantizes to 380000/1e6 in BOTH engines — included
    tie38 = 3799995 / 1e7
    s38 = spark.range(1).select(
        (F.floor(F.lit(tie38) * 1000000 + F.lit(0.5)) / 1000000).alias("q")
    ).collect()[0]["q"]
    d38 = _duck.sql(
        f"select floor({tie38!r}::DOUBLE * 1000000 + 0.5) / 1000000"
    ).fetchone()[0]
    assert s38 == d38 == 0.38 and s38 >= 0.38


def test_jaccard_round_tie_divergence(spark):
    """X2 (r13 round() sweep): jaccard = k/union is a small-denominator
    rational, so it lands EXACTLY on 5th-digit-5 shortest-repr ties —
    14001/20000 = 0.70005 (binary below the decimal tie: Spark's
    decimal-view HALF_UP says 0.7001, DuckDB's binary round says 0.7) and
    1/160 = 0.00625. The dedup family therefore quantizes with
    jac_round4 = floor(x·1e4 + 0.5)/1e4 (dedup.py), and the minhash
    oracle's WHERE now filters on the RAW ratio like the Spark side.
    This pins (a) the primitive divergence, (b) engine agreement of the
    quantizer on the planted ties."""
    import duckdb as _duck
    from pyspark.sql import functions as F

    from onebrc_spark.operators.dedup import jac_round4

    tie = 14001 / 20000
    assert repr(tie) == "0.70005"
    spark_round = spark.range(1).select(
        F.round(F.lit(tie), 4).alias("r")
    ).collect()[0]["r"]
    duck_round = _duck.sql(f"select round({tie!r}::DOUBLE, 4)").fetchone()[0]
    assert spark_round == 0.7001 and duck_round == 0.7, (spark_round, duck_round)

    for num, den, want in [(14001, 20000, 0.7), (1, 160, 0.0063),
                           (16001, 20000, 0.8001), (13, 160, 0.0813)]:
        x = num / den
        s = spark.range(1).select(
            jac_round4(F.lit(x)).alias("q")
        ).collect()[0]["q"]
        d = _duck.sql(
            f"select floor({x!r}::DOUBLE * 10000 + 0.5) / 10000"
        ).fetchone()[0]
        assert s == d == want, (num, den, s, d, want)


def test_report_round1_grid_tie_rescale_property(spark):
    """S8/F1 (r13 round() sweep adjudication for the flagship report's
    round(min/max, 1) over 2-dp values): every d=1 tie of a 2-dp grid
    value k.x5 survives because fl(fl(m/100)·10) re-rounds EXACTLY onto
    the dyadic half m/10 (halves are always representable), where Spark's
    decimal HALF_UP and DuckDB's C round() both go half away from zero.
    Property checked here over the full ±1e4.x5 grid (the ±1e5 sweep ran
    at adjudication time with zero violations); live engine agreement
    spot-checked on the classically dangerous values (0.15's binary sits
    BELOW the decimal tie — the d≥4 analogue of this is exactly the
    cos_round6 divergence, but at d=1 the rescale collapses the gap)."""
    from decimal import Decimal

    import duckdb as _duck
    from pyspark.sql import functions as F

    for m in range(5, 1_000_001, 10):
        for sgn in (1, -1):
            x = sgn * m / 100.0
            tie = float(Decimal(sgn * m) / 10)
            assert x * 10.0 == tie, (sgn * m, x)

    probes = [0.15, -0.15, 1.15, 2.15, 0.05, -0.05, 999.95, -999.95, 0.25]
    srow = spark.range(1).select(
        *[F.round(F.lit(p), 1).alias(f"r{i}") for i, p in enumerate(probes)]
    ).collect()[0]
    import math as _m

    for i, p in enumerate(probes):
        duck = _duck.sql(f"select round({p!r}::DOUBLE, 1)").fetchone()[0]
        # half away from zero on the exact dyadic tie, in BOTH engines
        want = _m.floor(abs(p) * 10 + 0.5) / 10 * (1 if p > 0 else -1)
        assert srow[f"r{i}"] == duck == want, (p, srow[f"r{i}"], duck, want)


def _half_away_ref(x: float) -> int:
    """Half away from zero on the exact binary value of x."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(x).to_integral_value(rounding=ROUND_HALF_UP))


def test_half_away_long_matches_round(spark):
    """Rule (a) INT-ROUND: aggregates.half_away_long(x) is the rint-based
    spelling of F.round(x).cast("long") that skips the per-row BigDecimal.
    Four ways must agree on an edge corpus — the helper, Spark's round,
    DuckDB's CAST(round(x) AS BIGINT) (the oracles' spelling) and an exact
    Decimal reference: ±k.5 ties up to 2^52, the largest double below 0.5,
    ±0.0, |x| >= 2^52, 2-dp and 3-dp values scaled by 100, and random bit
    patterns. NULL stays NULL; NaN, ±Inf and 2^64 raise in both spellings."""
    import math
    import struct

    import pyarrow as pa
    from pyspark.sql import functions as F

    from onebrc_spark.operators.aggregates import half_away_long

    two52 = 2.0**52
    corpus = [0.0, -0.0, 0.49999999999999994, 0.5000000000000001, 1.4999999999999998]
    corpus += [k + 0.5 for k in range(0, 2000)]
    corpus += [two52 / 2**j - 0.5 for j in range(1, 30)]  # ties up to 2^51 - 0.5
    corpus += [two52 - 0.5, two52 - 1.5, math.nextafter(two52 - 0.5, 0.0)]
    corpus += [two52, two52 + 1, 2.0**53 + 2, 2.0**62, 1e18, math.nextafter(2.0**63, 0.0)]
    corpus += [(m / 100) * 100 for m in range(-20_000, 20_001, 7)]
    corpus += [(m / 1000) * 100 for m in range(-20_000, 20_001, 5)]
    rng = random.Random(20261017)
    while len(corpus) < 30_000:
        (x,) = struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))
        if math.isfinite(x) and abs(x) < 2.0**62:
            corpus.append(x)
    corpus += [-x for x in corpus]

    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(corpus)] + [(len(corpus), None)],
        "i long, x double",
    )
    x = F.col("x")
    rows = df.select("i", half_away_long(x).alias("h"), F.round(x).cast("long").alias("r"))
    got = {r["i"]: (r["h"], r["r"]) for r in rows.collect()}
    vals = pa.table({"i": list(range(len(corpus))), "x": corpus})
    duck = dict(
        duckdb.sql("select i, CAST(round(x) AS BIGINT) from vals").fetchall()
    )
    bad = [
        (x, got[i], duck[i], _half_away_ref(x))
        for i, x in enumerate(corpus)
        if not got[i][0] == got[i][1] == duck[i] == _half_away_ref(x)
    ]
    assert not bad, bad[:10]
    assert got[len(corpus)] == (None, None)

    for v in [float("nan"), float("inf"), float("-inf"), 2.0**64]:
        one = spark.createDataFrame([(v,)], "x double")
        for col in (half_away_long(x), F.round(x).cast("long")):
            with pytest.raises(Exception, match="CAST_OVERFLOW"):
                one.select(col).collect()
