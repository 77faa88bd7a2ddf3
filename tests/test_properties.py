"""Property-based tests (hypothesis) — SURVEY §5.2 #3's invariant checks.

The reference's only formal test is a parser-roundtrip unit
(`rangnargrootkeorkamp.rs:361-376`); its real strategy is implicit
differential testing. These properties are the query-level generalization:
invariants that must hold for ANY generated input, not just the fixtures.

Spark jobs are expensive per example, so each property runs a small number
of examples (deadline disabled; the JVM warm-up would trip any per-example
deadline) over small generated frames.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from onebrc_spark.operators.aggregates import onebrc_aggregate
from onebrc_spark.sources.generator import NUM_STATIONS, generate_measurements

_SETTINGS = settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _utc_dt(sec: int):
    """Timezone-aware UTC datetime for fixture construction (ADVICE r9:
    utcfromtimestamp is deprecated AND naive .timestamp() reinterprets the
    wall time in the SYSTEM zone — the session timezone is pinned UTC but
    the system zone is not part of the contract). Reference computations
    must derive from the original epoch integers, never round-trip through
    datetime."""
    import datetime

    return datetime.datetime.fromtimestamp(sec, tz=datetime.timezone.utc)


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1), n=st.integers(500, 5000))
def test_flagship_invariants_any_seed(spark, seed, n):
    """For any generated 1BRC input: min ≤ mean ≤ max per station, station
    count ≤ 413, total count preserved, output sorted by station (the
    invariant sketched at `thebracket.rs:167`)."""
    df = generate_measurements(spark, n, seed=seed, num_partitions=4)
    agg = onebrc_aggregate(df, "station", "measure").collect()
    assert 0 < len(agg) <= NUM_STATIONS
    stations = [r["station"] for r in agg]
    assert stations == sorted(stations)
    for r in agg:
        # mean is rounded to 1 dp in-query: allow half-ulp slack at the ends.
        assert r["min"] - 0.05 <= r["mean"] <= r["max"] + 0.05


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1), salts=st.integers(1, 64))
def test_salting_is_semantically_invisible(spark, seed, salts):
    """Salted two-phase aggregation == plain aggregation for ANY salt count:
    decomposable aggregates (SUM/COUNT/MIN/MAX) re-combine losslessly
    regardless of how the groups are split (SURVEY §2.4 A1/A2)."""
    df = generate_measurements(spark, 2000, seed=seed, num_partitions=4).cache()
    try:
        plain = {
            r["station"]: (r["n"], round(r["s"], 6))
            for r in df.groupBy("station")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("measure").alias("s"))
            .collect()
        }
        partial = (
            df.withColumn("salt", F.pmod(F.xxhash64("measure"), F.lit(salts)))
            .groupBy("station", "salt")
            .agg(F.count(F.lit(1)).alias("pn"), F.sum("measure").alias("ps"))
        )
        salted = {
            r["station"]: (r["n"], round(r["s"], 6))
            for r in partial.groupBy("station")
            .agg(F.sum("pn").alias("n"), F.sum("ps").alias("s"))
            .collect()
        }
        assert salted == plain
    finally:
        df.unpersist()


def test_text_roundtrip_large_magnitudes(spark, tmp_path_factory):
    """write_measurements must emit plain '%.1f' text for |measure| >= 1000:
    the format_number variant it replaced inserted thousands-grouping commas
    ('1,234.5'), silently corrupting the station;temp line format — FAILFAST
    aborts on the extra field, the fast reader NULLs the value (round-5
    review fix; this is its pin, VERDICT r5 item 8). Generator temps stay
    within ±150, so only a purpose-built fixture exercises the class."""
    from onebrc_spark.sources.onebrc import read_measurements, write_measurements

    path = str(tmp_path_factory.mktemp("roundtrip_large") / "m_large")
    df = spark.createDataFrame(
        [
            ("big", 1234567.8),
            ("big", 1000.0),
            ("neg", -98765.4),
            ("neg", -1000.1),
            ("small", 3.2),
        ],
        "station STRING, measure DOUBLE",
    )
    write_measurements(df, path)
    lines = sorted(r["value"] for r in spark.read.text(path).collect())
    assert lines == [
        "big;1000.0",
        "big;1234567.8",
        "neg;-1000.1",
        "neg;-98765.4",
        "small;3.2",
    ], lines
    # FAILFAST reader accepts every line and round-trips the values exactly
    back = sorted(
        (r["station"], r["measure"])
        for r in read_measurements(spark, path).collect()
    )
    assert back == [
        ("big", 1000.0),
        ("big", 1234567.8),
        ("neg", -98765.4),
        ("neg", -1000.1),
        ("small", 3.2),
    ], back


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_text_roundtrip_preserves_aggregate(spark, seed, tmp_path_factory):
    """write_measurements → read_measurements is lossless for the flagship
    aggregate: the 1-dp text format (generate.rs:34-35) carries the full
    information content of the 1-dp-rounded measures."""
    from onebrc_spark.sources.onebrc import read_measurements, write_measurements

    path = str(tmp_path_factory.mktemp("roundtrip") / f"m_{seed}")
    df = generate_measurements(spark, 1000, seed=seed, num_partitions=2).cache()
    try:
        before = sorted(
            (r["station"], r["min"], r["mean"], r["max"])
            for r in onebrc_aggregate(df, "station", "measure").collect()
        )
        write_measurements(df, path)
        back = read_measurements(spark, path)
        after = sorted(
            (r["station"], r["min"], r["mean"], r["max"])
            for r in onebrc_aggregate(back, "station", "measure").collect()
        )
        assert after == before
    finally:
        df.unpersist()


def test_banded_lsh_candidates_bounded_as_corpus_grows(spark):
    """The LSH scaling law (VERDICT r1 item 5): with rows_per_band scaled as
    log2(N) + 2, per-vector candidate load stays bounded as the corpus grows
    (~linear total), while the fixed-8-plane single table — whose 256
    buckets are a hard ceiling — grows superlinearly (observed ≈ N²: 17× on
    a 4× corpus). This is the test that the banded construction, not the
    fixed table, is the 100 TB path."""
    import math

    from onebrc_spark.operators.similarity import banded_lsh_buckets, lsh_bucket
    from onebrc_spark.sources.catalog import load_table

    def pair_load(occ_df):
        c = F.col("count")
        return occ_df.agg(F.sum(c * (c - 1) / 2)).first()[0] or 0.0

    stats = {}
    for sf_dir, n in [("/root/testdata/sf0.001", 500), ("/root/testdata/sf0.1", 2000)]:
        e = load_table(spark, sf_dir, "embeddings")
        rows_per_band = math.ceil(math.log2(n)) + 2
        banded = pair_load(
            banded_lsh_buckets(e, 4, rows_per_band).groupBy("band", "bucket").count()
        )
        fixed = pair_load(
            e.select(lsh_bucket("embedding").alias("b")).groupBy("b").count()
        )
        stats[n] = (banded, fixed)

    (b_small, f_small), (b_big, f_big) = stats[500], stats[2000]
    assert b_small / 500 < 2.0 and b_big / 2000 < 2.0  # bounded per-vector load
    assert b_big / max(b_small, 1) < 8  # ~linear growth on a 4x corpus
    assert f_big / max(f_small, 1) > 8  # fixed-H: superlinear (≈N²) growth
    assert b_big < f_big  # banded strictly cheaper once N >> 2^8


def _banded_lsh_pairs(e, n_bands: int, rows_per_band: int):
    """Distinct candidate pairs (id_a < id_b) that collide in ≥1 band of
    similarity.banded_lsh_buckets — the candidate set whose size the census
    bounds."""
    from onebrc_spark.operators.similarity import banded_lsh_buckets

    b = banded_lsh_buckets(e, n_bands, rows_per_band).select(
        "vec_id", "band", "bucket"
    )
    a, bb = b.alias("a"), b.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )


def test_banded_pairs_bounded_by_census(spark):
    """The headline ANN query's candidate join must agree with (and be
    bounded by) the planning-time census sim_lsh_candidate_stats computes:
    distinct pairs ≤ Σ per-band C(occupancy, 2), and that census is
    sub-quadratic — a tiny fraction of all N(N-1)/2 pairs. This ties the
    registered sim_ann_lsh_banded query to the scale claim, not just the
    abstract construction."""
    from onebrc_spark.operators.similarity import (
        _STATS_BANDS,
        _STATS_ROWS,
        banded_lsh_buckets,
    )
    from onebrc_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.count()
    pairs = _banded_lsh_pairs(e, _STATS_BANDS, _STATS_ROWS).count()
    occ = (
        banded_lsh_buckets(e, _STATS_BANDS, _STATS_ROWS)
        .groupBy("band", "bucket")
        .count()
    )
    c = F.col("count")
    census = occ.agg(F.sum(c * (c - 1) / 2)).first()[0] or 0
    assert pairs <= census, (pairs, census)
    assert census < 0.05 * n * (n - 1) / 2, (census, n)


def test_approx_count_distinct_within_tolerance(spark, duck):
    """A8 scale path, verified not just runnable: the HLL++ estimate must be
    within 2·rsd of the exact distinct count per group (rsd=0.01 in the
    query; HLL++ error is approximately normal, 2σ ≈ 95% — with this data
    fixed, the check is deterministic)."""
    from onebrc_spark.operators.aggregates import agg_approx_count_distinct
    from tests.conftest import SF_DIR

    rows = {
        r["event_type"]: r for r in agg_approx_count_distinct(spark, SF_DIR).collect()
    }
    exact = dict(
        duck.sql(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert set(rows) == set(exact)
    for k, ex in exact.items():
        assert rows[k]["exact_users"] == ex
        assert rows[k]["within_tol"], (
            f"{k}: estimate outside 5% of exact {ex}"
        )


def test_zscore_degenerate_groups_yield_null(spark):
    """U3 kernel edge case (ADVICE r1): single-row groups (stddev_samp NULL)
    and constant-value groups (sd == 0) must z-score to NULL, matching the
    SQL (value - avg)/stddev_samp semantics — not to 0.0."""
    from onebrc_spark.operators.udfs import _ZSCORE_SCHEMA, _zscore_group

    df = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 7.0), (2, 21, 7.0), (3, 30, 1.0), (3, 31, 3.0)],
        "user_id long, event_id long, value double",
    )
    out = {
        r["event_id"]: r["zscore"]
        for r in df.groupBy("user_id").applyInPandas(_zscore_group, _ZSCORE_SCHEMA).collect()
    }
    assert out[10] is None  # single-row group
    assert out[20] is None and out[21] is None  # constant group, sd == 0
    assert out[30] is not None and round(out[30], 4) == -0.7071


def test_station_table_partition_layout_invariant(spark):
    """S7 determinism (ADVICE r1): the generator's station dim must be a pure
    function of the station id — identical under any parallelism. randn()
    would tie sigma to partition layout; the content-addressed construction
    must not."""
    from onebrc_spark.sources.generator import station_table

    one = station_table(spark, seed=42).repartition(1).collect()
    many = station_table(spark, seed=42).repartition(13).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))
    sigmas = [r["sigma"] for r in one]
    # distribution sanity: Normal(10, 2.5)-shaped, clamped positive
    assert all(s >= 0.1 for s in sigmas)
    assert 8.0 < sum(sigmas) / len(sigmas) < 12.0


def test_kmeans_deterministic_and_improves_assignment(spark):
    """IVF coarse-quantizer training (_kmeans_fit_local, the fit
    sim_ann_ivf_sampled runs): (a) the fit is a function of the sample's
    row SET — the collected rows arrive in partition order, and the exact
    integer coordinate sums make any order give the same centroids bit for
    bit; (b) the trained centroids explain the corpus better than the
    md5-constant init: mean best-cosine (the spherical-k-means objective)
    strictly increases after training."""
    from onebrc_spark.operators.similarity import (
        _centroids,
        _kmeans_fit_local,
        cosine,
        sql_double_array,
    )
    from onebrc_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = [r["embedding"] for r in e.select("embedding").collect()]
    fit1 = _kmeans_fit_local(rows, iters=3)
    assert _kmeans_fit_local(rows[::-1], iters=3) == fit1
    assert _kmeans_fit_local(rows[1::2] + rows[::2], iters=3) == fit1

    def mean_best_cos(cents):
        cs = F.array(*[cosine("embedding", sql_double_array(c)) for c in cents])
        return e.select(F.array_max(cs).alias("best")).agg(F.avg("best")).first()[0]

    before = mean_best_cos(_centroids())
    after = mean_best_cos(fit1)
    assert after > before, (before, after)


def test_minhash_identical_inputs_identical_signatures(spark):
    """MinHash: equal shingle sets ⇒ equal signatures (exact, not
    probabilistic); disjoint docs get sentinel-free distinct signatures."""
    from onebrc_spark.operators.dedup import minhash_signature

    df = spark.createDataFrame(
        [(1, ["ab", "bc", "cd"]), (2, ["ab", "bc", "cd"]), (3, ["xy", "yz"]), (4, [])],
        "id int, shingles array<string>",
    )
    rows = {
        r["id"]: tuple(r["sig"])
        for r in df.select("id", minhash_signature("shingles").alias("sig")).collect()
    }
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    assert len(rows[1]) == len(rows[3]) == len(rows[4]) == 12


def test_approx_percentile_within_tolerance(spark, duck):
    """A8-adjacent accuracy contract: percentile_approx with accuracy=1000
    must land within 1 percentile-rank of the exact quantile — checked by
    counting how many values fall below the approximate cut vs the target
    rank, which is the guarantee the sketch actually makes."""
    from onebrc_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    n = li.count()
    for q in (0.5, 0.95):
        approx = li.agg(
            F.percentile_approx("l_extendedprice", q, 1000).alias("p")
        ).collect()[0]["p"]
        below = li.filter(F.col("l_extendedprice") <= approx).count()
        assert abs(below / n - q) <= 0.01, (q, approx, below / n)


def test_hll_union_equals_sketch_of_union(spark):
    """The merge property in the APPROXIMATE regime (cardinality >> sparse
    threshold): union of per-partition sketches must estimate the same as
    one global sketch — that identity is what makes HLL rollups correct —
    and both within 3*1.04/sqrt(2^12) of the true distinct count."""
    n = 200_000
    df = spark.range(n).select(
        (F.col("id") % 50_000).alias("v"), (F.col("id") % 8).alias("part")
    )
    per_part = df.groupBy("part").agg(F.hll_sketch_agg("v").alias("sk"))
    merged = per_part.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("est")
    ).collect()[0]["est"]
    true = 50_000
    rse = 1.04 / (2**12) ** 0.5
    assert abs(merged - true) <= 3 * rse * true, (merged, true)
    assert abs(direct - true) <= 3 * rse * true, (direct, true)


@settings(max_examples=5, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Min-label propagation must agree with a driver-side union-find on
    arbitrary small graphs (chains, cliques, self-loops, duplicates)."""
    from onebrc_spark.operators.clustering import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical label = min node id in component
    label = {}
    for n in list(parent):
        root = find(n)
        label.setdefault(root, root)
    expected = {n: min(m for m in parent if find(m) == find(n)) for n in parent}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(df, max_iters=50).collect()
    }
    assert got == expected
    # the star-contraction path must agree on the same graph
    got_star = {
        r["id"]: r["cluster_id"]
        for r in connected_components(df, max_iters=50, algorithm="star").collect()
    }
    assert got_star == expected


def test_connected_components_deep_chain(spark):
    """A 61-node chain (diameter 60) exceeds the propagation iteration cap;
    auto mode must escalate to large-star/small-star and still return exact
    min-labels in O(log n) rounds — round 3's implementation raised here."""
    from onebrc_spark.operators.clustering import connected_components

    n = 61
    # two disjoint chains, ids interleaved so labels aren't trivially sorted:
    # chain A over even ids 0,2,..,120 and chain B over odd ids 1,3,..,121
    edges = [(2 * i, 2 * (i + 1)) for i in range(n - 1)]
    edges += [(2 * i + 1, 2 * (i + 1) + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["id"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    expected = {2 * i: 0 for i in range(n)} | {2 * i + 1: 1 for i in range(n)}
    assert got == expected
    # pure label mode must still refuse (documented diameter bound)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iters=10, algorithm="label")


def test_connected_components_empty_edges_min_budget(spark):
    """r14: propagation no longer probes the initial label state (round 1
    cannot be a fixpoint on a non-empty edge set), so the empty edge set —
    the one input where that probe could fire — must still converge via
    the empty-state-is-a-fixpoint guard, even at the tightest budget."""
    from onebrc_spark.operators.clustering import connected_components

    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df, max_iters=1, algorithm="label").collect() == []
    assert connected_components(df).collect() == []


# --- X5b container codecs: property-based roundtrips (no Spark needed) ------


def test_wav_roundtrip_properties():
    """For ANY payload and sample rate: decode(build(x)) recovers channel
    count, rate, and floor(len/2) samples — the property the mm_decode_real
    oracle arithmetic relies on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from onebrc_spark.operators.multimodal import _build_wav, decode_wav

    @settings(max_examples=200, deadline=None)
    @given(
        payload=st.binary(min_size=0, max_size=4096),
        rate=st.integers(min_value=1, max_value=192_000),
    )
    def check(payload: bytes, rate: int) -> None:
        channels, got_rate, n_samples = decode_wav(_build_wav(payload, rate))
        assert (channels, got_rate, n_samples) == (1, rate, len(payload) // 2)

    check()


def test_wav_malformed_inputs_raise_value_error():
    """The decoder contract is ValueError on ANY malformed input — never
    struct.error / TypeError / ZeroDivisionError (ADVICE r3): truncated fmt
    chunk, zero channels or bits, data-before-fmt, missing data chunk."""
    import struct

    import pytest

    from onebrc_spark.operators.multimodal import _build_wav, decode_wav

    def riff(*chunks: bytes) -> bytes:
        body = b"WAVE" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) % 2))

    fmt16 = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    with pytest.raises(ValueError):  # fmt chunk shorter than 16 bytes
        decode_wav(riff(chunk(b"fmt ", fmt16[:10]), chunk(b"data", b"\x00" * 4)))
    with pytest.raises(ValueError):  # zero channels
        decode_wav(
            riff(
                chunk(b"fmt ", struct.pack("<HHIIHH", 1, 0, 8000, 0, 2, 16)),
                chunk(b"data", b"\x00" * 4),
            )
        )
    with pytest.raises(ValueError):  # zero bits per sample
        decode_wav(
            riff(
                chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 0, 2, 0)),
                chunk(b"data", b"\x00" * 4),
            )
        )
    with pytest.raises(ValueError):  # data chunk before any fmt chunk
        decode_wav(riff(chunk(b"data", b"\x00" * 4)))
    with pytest.raises(ValueError):  # fmt but no data chunk
        decode_wav(riff(chunk(b"fmt ", fmt16)))
    with pytest.raises(ValueError):  # not RIFF at all
        decode_wav(b"\x00" * 64)
    # and the happy path still decodes
    assert decode_wav(_build_wav(b"\x01\x02\x03\x04", 8000)) == (1, 8000, 2)


def test_bmp_roundtrip_properties():
    """For ANY pixel payload and dimensions: decode(build(x)) recovers the
    header geometry, and the file length obeys 4-byte row stride."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from onebrc_spark.operators.multimodal import _build_bmp, decode_bmp

    @settings(max_examples=200, deadline=None)
    @given(
        pixels=st.binary(min_size=0, max_size=2048),
        width=st.integers(min_value=1, max_value=128),
        height=st.integers(min_value=1, max_value=96),
    )
    def check(pixels: bytes, width: int, height: int) -> None:
        buf = _build_bmp(pixels, width, height)
        assert decode_bmp(buf) == (width, height, 24)
        stride = (width * 3 + 3) & ~3
        assert len(buf) == 14 + 40 + stride * height

    check()


def test_y4m_roundtrip_properties():
    """For ANY even dimensions and frame count: decode(build(x)) recovers
    the header geometry and exact frame count — the properties the
    mm_decode_real video oracle arithmetic relies on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from onebrc_spark.operators.multimodal import _build_y4m, decode_y4m

    @settings(max_examples=150, deadline=None)
    @given(
        pixels=st.binary(min_size=0, max_size=1024),
        width=st.integers(min_value=1, max_value=32).map(lambda x: x * 2),
        height=st.integers(min_value=1, max_value=24).map(lambda x: x * 2),
        n_frames=st.integers(min_value=1, max_value=5),
    )
    def check(pixels: bytes, width: int, height: int, n_frames: int) -> None:
        got = decode_y4m(_build_y4m(pixels, width, height, n_frames))
        assert got == (width, height, n_frames, 25, 1)

    check()


@_SETTINGS
@given(
    words=st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=5,
        max_size=60,
    ),
    split_at=st.integers(1, 59),
)
def test_cms_overestimates_and_merges(spark, words, split_at):
    """CMS invariants for ANY token multiset: (a) every estimate ≥ its
    exact count (the one-sided count-min guarantee); (b) the sketch is
    mergeable — cell-wise sum of two halves' sketches equals the sketch of
    the whole (the property that lets daily corpus deltas fold at constant
    state)."""
    from collections import Counter

    from onebrc_spark.operators.aggregates import _CMS_D, _CMS_W
    from onebrc_spark.operators.dedup import _HASH_AB, _HASH_P

    def base(tok: str) -> int:
        import hashlib

        digits = "".join(c for c in hashlib.md5(tok.encode()).hexdigest() if c.isdigit())
        return int((digits + "0" * 9)[:9])

    def bucket(tok: str, d: int) -> int:
        a, b = _HASH_AB[d]
        return (base(tok) * a + b) % _HASH_P % _CMS_W

    def sketch(counter: Counter) -> dict:
        cells: dict = {}
        for tok, c in counter.items():
            for d in range(_CMS_D):
                k = (d, bucket(tok, d))
                cells[k] = cells.get(k, 0) + c
        return cells

    whole = Counter(words)
    s = sketch(whole)
    # (a) one-sided error: estimate = min over rows ≥ exact, for every token
    for tok, exact in whole.items():
        est = min(s[(d, bucket(tok, d))] for d in range(_CMS_D))
        assert est >= exact
    # (b) mergeability: sketch(left) + sketch(right) == sketch(whole)
    left, right = sketch(Counter(words[:split_at])), sketch(Counter(words[split_at:]))
    merged: dict = dict(left)
    for k, v in right.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == s


def test_scd2_intervals_partition_each_timeline(spark):
    """SCD2 invariants, per key: versions are 1..n dense; exactly ONE
    current row (null valid_to); intervals chain (each valid_to equals the
    next version's valid_from); consecutive versions never repeat a status
    (the collapse property that makes history change-cardinality)."""
    from onebrc_spark.operators.cdc import cdc_scd2_history
    from tests.conftest import SMOKE_SF_DIR

    rows = cdc_scd2_history(spark, SMOKE_SF_DIR).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.custkey, []).append(r)
    assert by_key, "no history rows at smoke SF"
    for key, hist in by_key.items():
        hist.sort(key=lambda r: r.version)
        assert [r.version for r in hist] == list(range(1, len(hist) + 1)), key
        currents = [r for r in hist if r.valid_to is None]
        assert len(currents) == 1 and currents[0] is hist[-1], key
        assert currents[0].is_current == 1
        for prev, nxt in zip(hist, hist[1:]):
            assert prev.is_current == 0
            assert prev.valid_to == nxt.valid_from, key
            assert prev.status != nxt.status, key
            assert prev.valid_from <= prev.valid_to, key


def test_recall_audit_found_bounded_by_truth_and_by_candidates(spark):
    """Audit invariants: n_found ≤ n_true per query (found is a subset of
    truth); recall_ppm is the exact integer floor of n_found/n_true; and
    the measured overall recall is strictly between 0 and 1 — the audit is
    only meaningful when the s-curve actually loses (and keeps) neighbors."""
    from onebrc_spark.operators.similarity import sim_ann_recall_audit
    from tests.conftest import SMOKE_SF_DIR

    rows = sim_ann_recall_audit(spark, SMOKE_SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_found <= r.n_true, r
        denom = max(r.n_true, 1)
        assert r.recall_ppm == (r.n_found * 1_000_000) // denom, r
    total_true = sum(r.n_true for r in rows)
    total_found = sum(r.n_found for r in rows)
    assert total_true > 0
    assert 0 < total_found < total_true


def test_staged_division_is_exact_and_int64_safe():
    """ml_temperature_mix's remainder-carry staging must equal the exact
    rational floor at any magnitude, and every intermediate must fit int64
    inside the documented envelope (N·√S < 9.2e12). Hypothesis drives the
    corpus shape; the reference is Python big-int arithmetic."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        sizes=st.lists(
            st.integers(min_value=1, max_value=10_000_000_000),
            min_size=1,
            max_size=12,
        ),
        pick=st.integers(min_value=0, max_value=11),
    )
    def run(sizes, pick):
        import math

        total = sum(sizes)
        weights = [round(1000 * math.sqrt(n)) for n in sizes]
        denom = sum(weights)
        n_s = sizes[pick % len(sizes)]
        w = weights[pick % len(sizes)]
        q1, r1 = divmod(50 * total, denom)
        staged = (q1 * w + (r1 * w) // denom) // n_s
        exact = (50 * total * w) // (denom * n_s)
        assert staged == exact
        # int64 safety of every staged intermediate inside the envelope
        if total * math.isqrt(len(sizes)) < 9_200_000_000_000:
            for term in (50 * total, q1 * w, r1 * w, q1 * w + (r1 * w) // denom):
                assert abs(term) < 2**63, (term, sizes)

    run()


def test_domain_cap_and_token_budget_contracts(spark):
    """ml_domain_cap: ≤ cap rows per source, ranks contiguous from 1,
    n_tokens non-increasing within a source. ml_token_budget: kept_tokens
    never exceeds the budget, admission is a prefix in doc_id order, and
    kept + dropped partitions the source's documents."""
    from onebrc_spark.operators.mlprep import (
        _DOMAIN_CAP,
        _TOKEN_BUDGET,
        ml_domain_cap,
        ml_token_budget,
    )
    from onebrc_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    capped = ml_domain_cap(spark, SF_DIR).collect()
    by_src: dict = {}
    for r in capped:
        by_src.setdefault(r["source"], []).append(r)
    assert by_src
    for src, rows in by_src.items():
        assert len(rows) <= _DOMAIN_CAP, src
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1)), src
        toks = [r["n_tokens"] for r in rows]
        assert toks == sorted(toks, reverse=True), (src, toks)

    per_source_docs = {
        r["source"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in ml_token_budget(spark, SF_DIR).collect():
        assert r["kept_tokens"] <= _TOKEN_BUDGET, r
        assert r["n_kept"] + r["n_dropped"] == per_source_docs[r["source"]], r
        assert r["n_kept"] >= 1, r  # budget admits at least the first doc here


def test_repetition_profile_extremes(spark):
    """Semantic contract beyond oracle parity: a fully-repetitive document
    scores 1.0 on both signals, an all-unique document scores 1/n and 0,
    and a token-less document survives with n_tokens=0 and NULL shares."""
    import tempfile

    from onebrc_spark.operators.textops import text_repetition_profile

    rows = [
        (1, "x x x x x", "en", "s", 0),
        (2, "a b c d e", "en", "s", 0),
        (3, "   ", "en", "s", 0),
        (4, "a b a b c", "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in text_repetition_profile(spark, d).collect()}
    assert out[1]["top_word_share"] == 1.0 and out[1]["dup_token_frac"] == 1.0
    assert out[2]["top_word_share"] == 0.2 and out[2]["dup_token_frac"] == 0.0
    assert out[3]["n_tokens"] == 0 and out[3]["top_word_share"] is None
    assert out[4]["top_word_share"] == 0.4  # 'a' and 'b' twice each of 5
    assert out[4]["dup_token_frac"] == 0.8  # only 'c' is unique


def test_anomaly_mad_is_poison_resistant(spark):
    """Semantic contract: one 1e9 poison row in a tight group must flag as
    the group's ONLY anomaly (median/MAD barely move — the property that
    makes MAD the monitoring-stack scorer where mean/stddev z-scores
    swallow their own outlier), and an all-constant group flags nothing."""
    import tempfile

    from onebrc_spark.operators.eventtime import evt_anomaly_mad

    rows = (
        # tight group around 10 with one poison row
        [(i, "2024-03-01 00:00:%02d" % i, 1, "tight", 10.0 + (i % 3) * 0.01, None)
         for i in range(20)]
        + [(99, "2024-03-01 00:01:00", 1, "tight", 1e9, None)]
        # constant group
        + [(200 + i, "2024-03-01 00:02:%02d" % i, 2, "const", 7.0, None)
           for i in range(5)]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id LONG, ts STRING, user_id LONG, event_type STRING, "
            "value DOUBLE, props STRING",
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = {r["event_type"]: r for r in evt_anomaly_mad(spark, d).collect()}
    tight = out["tight"]
    assert tight["n_anomalies"] == 1, tight
    assert tight["anom_cents"] == int(1e9) * 100
    assert abs(tight["med"] - 10.01) < 0.02  # median unmoved by the poison
    const = out["const"]
    assert const["n_anomalies"] == 0 and const["mad"] == 0.0


def test_compaction_reduces_files(spark):
    """storage_compaction's physical contract — the part no SQL oracle can
    see: the fragmented layout has 64 part files, the compacted rewrite
    collapses them to the row-count-derived target (1 at smoke scale), and
    both layouts hold identical content (asserted via the query's own
    fingerprint rows, which also ran green against the oracle)."""
    import glob
    import math

    from onebrc_spark.operators.storage import _ROOT, _tag, storage_compaction
    from tests.conftest import SMOKE_SF_DIR

    rows = {r["layout"]: r for r in storage_compaction(spark, SMOKE_SF_DIR).collect()}
    assert rows["fragmented"]["fingerprint"] == rows["compacted"]["fingerprint"]
    assert rows["fragmented"]["n_rows"] == rows["compacted"]["n_rows"]

    tag = _tag(SMOKE_SF_DIR)
    n_frag = len(glob.glob(f"{_ROOT}/{tag}/lineitem_fragmented/part-*"))
    n_comp = len(glob.glob(f"{_ROOT}/{tag}/lineitem_compacted/part-*"))
    assert n_frag == 64, n_frag
    expected = max(1, math.ceil(rows["compacted"]["n_rows"] / 262_144))
    assert n_comp == expected, (n_comp, expected)
    assert n_comp < n_frag


def test_bpe_merge_pairs_overlaps_weights_and_tiebreak(spark):
    """Semantic contract of text_bpe_merge_pairs beyond oracle parity,
    matching the reference BPE trainer: overlapping occurrences all count
    ('aaa' yields 'aa' twice), pair counts are weighted by word frequency
    (not document frequency), single-char words contribute nothing, and
    rank ties break on the pair string so the merge choice is stable."""
    import tempfile

    from onebrc_spark.operators.textops import text_bpe_merge_pairs

    rows = [
        (1, "aaa bc", "en", "s", 0),    # 'aa' x2 from one word
        (2, "bc bc x", "en", "s", 0),   # 'bc' freq accumulates to 3
        (3, "de fg", "en", "s", 0),     # tie at 1: 'de' < 'fg' lexicographically
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = text_bpe_merge_pairs(spark, d).collect()
    by_pair = {r["pair"]: r for r in out}
    assert by_pair["bc"]["pair_count"] == 3 and by_pair["bc"]["n_word_types"] == 1
    assert by_pair["aa"]["pair_count"] == 2 and by_pair["aa"]["n_word_types"] == 1
    assert "x" not in by_pair  # single-char word: no pair
    # deterministic order: counts desc, then pair asc
    assert [r["pair"] for r in out] == ["bc", "aa", "de", "fg"]


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.integers(0, 7), min_size=0, max_size=13),
        min_size=1,
        max_size=24,
    )
)
def test_boilerplate_clean_and_ledger_agree_vs_reference(spark, docs):
    """On arbitrary small corpora (tiny vocabulary forces heavy segment
    collisions across docs), text_boilerplate_clean must equal a pure-
    Python reference cleaner (same W/tau contract), and the ledger twin's
    per-source removal totals must audit exactly that cleaning."""
    import tempfile

    from onebrc_spark.operators.curation import (
        _BOILER_TAU,
        _BOILER_W,
        text_boilerplate_clean,
        text_boilerplate_segments,
    )

    texts = [" ".join(f"t{t}" for t in toks) for toks in docs]
    rows = [(i, txt, "en", "s", len(txt)) for i, txt in enumerate(texts)]

    def segs_of(txt):
        toks = [t for t in txt.split(" ") if t]
        return [
            " ".join(toks[i : i + _BOILER_W])
            for i in range(0, len(toks), _BOILER_W)
        ]

    df_count = {}
    for txt in texts:
        for s in set(segs_of(txt)):
            df_count[s] = df_count.get(s, 0) + 1
    hot = {s for s, c in df_count.items() if c >= _BOILER_TAU}

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in text_boilerplate_clean(spark, d).collect()}
        ledger = text_boilerplate_segments(spark, d).collect()
    assert len(out) == len(texts)
    total_removed = 0
    for i, txt in enumerate(texts):
        segs = segs_of(txt)
        kept = [s for s in segs if s not in hot]
        r = out[i]
        assert r["n_segs"] == len(segs), (txt, dict(r.asDict()))
        assert r["n_removed"] == len(segs) - len(kept), (txt, dict(r.asDict()))
        assert r["cleaned_text"] == " ".join(kept), (txt, dict(r.asDict()))
        total_removed += len(segs) - len(kept)
    assert sum(l["segs_removed"] for l in ledger) == total_removed


def test_ivf_argmax_tie_margin_is_diagnosable(spark):
    """ADVICE r6: sim_ann_ivf_sampled's oracle replays the 3-iteration
    Lloyd fit assuming the driver's Python cosine fold, Spark's
    F.aggregate fold and DuckDB's SQL fold produce bit-identical doubles —
    a near-tie argmax flipped by a last-ulp difference would cascade
    through later iterations and fail the hash with no diagnosable cause.
    This pin measures the actual margin: at EVERY point in the centroid
    trajectory of the fit over the 128-row sample (seed c0 through fitted
    c3), for every vector of the FULL corpus — the sample is assigned
    against c0..c2 during the fit, and retrieval assigns every vector
    against c3 — the top-2 cosine gap (assignment stability) and the
    2nd-vs-3rd gap (probe-2 selection stability) must clear 1e-8 — ~1e8
    ulps above fold-order noise. Exact ties are only legal at the -2.0 zero-norm sentinel,
    where both engines break ties to the first cell by construction. A
    fixture regeneration that lands on a near-tie fails HERE, by name,
    instead of as a wholesale hash mismatch."""
    from onebrc_spark.operators.similarity import (
        _IVF_K,
        _centroids,
        _ivf_fit_sample,
        _kmeans_fit_local,
        cosine,
        sql_double_array,
    )
    from onebrc_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    sample = _ivf_fit_sample(e)
    seed = [[float(v) for v in c] for c in _centroids()[:_IVF_K]]
    trajectory = [seed] + [_kmeans_fit_local(sample, iters=i) for i in (1, 2, 3)]
    for it, cents in enumerate(trajectory):
        cs = F.array(
            *[
                F.coalesce(cosine("embedding", sql_double_array(c)), F.lit(-2.0))
                for c in cents
            ]
        )
        s = F.array_sort(cs)
        t1, t2, t3 = F.element_at(s, -1), F.element_at(s, -2), F.element_at(s, -3)
        row = e.select(
            F.min(F.when(t1 != t2, t1 - t2)).alias("g12"),
            F.min(F.when(t2 != t3, t2 - t3)).alias("g23"),
            F.sum(F.when((t1 == t2) & (t1 != -2.0), 1).otherwise(0)).alias(
                "nonsentinel_ties"
            ),
        ).collect()[0]
        assert row["nonsentinel_ties"] == 0, (
            f"iteration {it}: {row['nonsentinel_ties']} exact non-sentinel "
            f"argmax ties — cross-engine tie-break is undefined for these"
        )
        for label, gap in (("top1-top2", row["g12"]), ("top2-top3", row["g23"])):
            assert gap is None or gap > 1e-8, (
                f"iteration {it}: {label} cosine margin {gap} is within "
                f"float-fold noise — the IVF oracle replay is no longer "
                f"deterministic; regenerate fixtures or quantize the argmax"
            )


def test_shard_binpack_serpentine_semantics(spark):
    """Snake-draft contract on a hand-built corpus: (a) every doc lands in
    exactly one shard and token totals are conserved; (b) the serpentine
    reversal happens (rank K lands in shard K-1, not shard 0 — plain
    round-robin would fail this); (c) shard token totals balance to
    within one largest document for a heavy-tailed size distribution."""
    import tempfile

    from onebrc_spark.operators.mlprep import _BINPACK_SHARDS, ml_shard_binpack

    K = _BINPACK_SHARDS
    # doc i has i tokens (heavy tail via quadratic spacing for a few)
    sizes = {i: i for i in range(1, 41)}
    sizes[100] = 400  # one giant doc
    rows = [(i, " ".join(["w"] * n), "en", "s", len(" ".join(["w"] * n)))
            for i, n in sizes.items()]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        ).coalesce(1).write.parquet(f"{d}/documents.parquet")
        got = {r["shard"]: r for r in ml_shard_binpack(spark, d).collect()}
    assert sum(r["n_docs"] for r in got.values()) == len(rows)
    assert sum(r["shard_tokens"] for r in got.values()) == sum(sizes.values())
    # rank 1 (the 400-token giant) → shard 0; ranks 2..K fill 1..K-1; rank
    # K+1 (serpentine reversal) must return to shard K-1, NOT shard 0
    ordered = sorted(sizes.values(), reverse=True)
    assert got[0]["max_doc_tokens"] == ordered[0]
    assert got[K - 1]["max_doc_tokens"] == ordered[K - 1], (
        "pass 2 must start at the LAST shard (serpentine), matching the "
        "oracle's snake-draft arithmetic"
    )
    toks = [r["shard_tokens"] for r in got.values()]
    assert max(toks) - min(toks) <= ordered[0], (
        f"shard token spread {max(toks) - min(toks)} exceeds one largest doc"
    )


def _docs_df(spark, rows):
    """documents-shaped frame from (doc_id, text) pairs."""
    full = [(i, t, "en", "s", len(t)) for i, t in rows]
    return spark.createDataFrame(
        full, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )


def _band_candidates(spark, ws, band_cap):
    """Banded candidate pairs over (doc_id, ws) rows, from the shared
    candidate CTEs the pair build and the recall audit run."""
    from onebrc_spark.operators.dedup import _band_candidates_ctes

    ctes = _band_candidates_ctes("{ws}", band_cap)
    return spark.sql(f"WITH {ctes} SELECT doc_a, doc_b FROM cand", ws=ws)


def _minhash_compose(spark, docs, band_cap=None):
    """Run the composition the registered dedup_minhash_lsh plan uses
    (_minhash_pairs_plan) on an in-memory frame: slim → duplicate census →
    collapsed rows → the one-statement band/verify/expand SQL. Returns the
    rep-level banded candidates (the shared candidate CTEs over the same
    collapsed rows, as the recall audit runs them) and the collected
    (doc_a, doc_b) → jaccard pair map."""
    from onebrc_spark.operators.dedup import (
        _BAND_OCCUPANCY_CAP,
        _collapsed_rows,
        _dup_census,
        _minhash_slim,
        _pairs_sql_from_collapsed,
    )

    cap = band_cap or _BAND_OCCUPANCY_CAP
    slim = _minhash_slim(docs)
    collapsed = _collapsed_rows(slim, _dup_census(slim))
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in spark.sql(
            _pairs_sql_from_collapsed("{collapsed}", cap), collapsed=collapsed
        ).collect()
    }
    return _band_candidates(spark, collapsed, cap), pairs


def _true_jaccard(ta: str, tb: str) -> float | None:
    def g3(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    a, b = g3(ta), g3(tb)
    return None if not (a | b) else len(a & b) / len(a | b)


def test_minhash_clique_precollapse_linear_candidates(spark):
    """The 100 TB scale contract of the MinHash band join (VERDICT r7 #1):
    k byte-identical documents — clique-shaped duplication, the dominant
    shape of web-scale exact dup — must cost O(k), not O(k²), in the banded
    candidate join. The exact-digest pre-collapse sends ONE representative
    per distinct text into banding; the clique's C(k, 2) pairs come back
    arithmetically via expansion. Zero-shingle docs (shorter than the
    3-gram window) are routed out entirely: their Jaccard is 0/0 → dropped
    by plain LSH too, so the pair SET is unchanged (oracle-exact)."""
    from onebrc_spark.operators.dedup import _BAND_OCCUPANCY_CAP, word_3grams

    clique_text = "the quick brown fox jumps over the lazy dog again and again"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, clique_text) for i in range(40)]
    rows += [(100, near_a), (101, near_b)]
    rows += [(200 + i, f"distinct text number {i} with unique word{i} tokens here")
             for i in range(5)]
    # zero-shingle docs: two byte-identical two-word docs + one empty
    rows += [(300, "a b"), (301, "a b"), (302, "")]
    docs = _docs_df(spark, rows)

    cands, got = _minhash_compose(spark, docs)
    n_cands = cands.count()

    # (a) collapsed candidate join sees no clique-internal pair: candidates
    # are rep-level, and there are only 8 reps with shingles
    assert n_cands <= 8 * 7 / 2, n_cands
    # uncollapsed banding on the same corpus would carry the full clique
    ws_all = docs.select("doc_id", word_3grams("text").alias("ws")).filter(
        F.size("ws") > 0
    )
    assert _band_candidates(spark, ws_all, _BAND_OCCUPANCY_CAP).count() >= 40 * 39 / 2
    # (b) the clique's pairs are all present at exactly 1.0
    clique = {(i, j) for i in range(40) for j in range(i + 1, 40)}
    assert clique <= set(got), sorted(clique - set(got))[:5]
    assert all(got[p] == 1.0 for p in clique)
    # (c) every emitted pair is a TRUE near-dup (LSH prunes, Jaccard decides)
    text_of = dict(rows)
    for (a, b), j in got.items():
        tj = _true_jaccard(text_of[a], text_of[b])
        assert tj is not None and tj >= 0.7, (a, b, j, tj)
        assert abs(j - round(tj, 4)) < 1e-9
    # (d) zero-shingle docs never pair — including the byte-identical
    # "a b" twins, whose 0/0 Jaccard plain LSH drops as NULL
    assert not any(a >= 300 or b >= 300 for a, b in got)


def test_minhash_hot_band_cap_diverts(spark):
    """The hot-band occupancy guard's divert contract: with band_cap=1
    every band key shared by ≥2 representatives is dropped, so NO banded
    candidates survive — yet the exact-duplicate pairs still arrive via
    the digest-group expansion, which is independent of banding. This is
    the graceful-degrade split: banding finds NEAR dups (capped, recall
    documented at _BAND_OCCUPANCY_CAP), exact dups never depend on it."""
    clique_text = "one two three four five six seven eight nine ten eleven"
    rows = [(i, clique_text) for i in range(10)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda")]
    docs = _docs_df(spark, rows)

    cands, pairs = _minhash_compose(spark, docs, band_cap=1)
    assert cands.count() == 0
    got = set(pairs)
    assert got == {(i, j) for i in range(10) for j in range(i + 1, 10)}


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_asof_joins_match_bruteforce_reference(spark, seed, tmp_path_factory):
    """Both as-of directions (J7) against an O(n·m) per-row reference on
    adversarial random events: exact-timestamp collisions between probes
    and builds (the inclusive `>=`/`<=` bound), duplicate-(user, ts) build
    rows (max/min event_id canonicalization), users with probes but no
    builds (LEFT semantics), and event types the queries must ignore. The
    oracle-parity suite pins the fixtures; this pins the TIE SEMANTICS for
    any input — the part of the union+window construction (joins.py:349,
    :427) that is easiest to silently break."""
    import random

    from onebrc_spark.operators.joins import join_asof, join_asof_forward

    rng = random.Random(seed)
    base = 1_700_000_000
    secs, rows = [], []
    for eid in range(rng.randrange(40, 120)):
        sec = base + rng.randrange(0, 30)  # dense: many exact-ts ties
        secs.append(sec)
        rows.append(
            (
                eid,
                _utc_dt(sec),
                rng.randrange(0, 4),
                rng.choice(["view", "purchase", "click"]),
                float(rng.randrange(0, 100)) / 2.0,
                "{}",
            )
        )
    d = tmp_path_factory.mktemp("asof") / f"ev_{seed}"
    spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    ev = [(eid, s, u, t) for (eid, _, u, t, _, _), s in zip(rows, secs)]
    views = [(eid, s, u) for eid, s, u, t in ev if t == "view"]
    purchases = [(eid, s, u) for eid, s, u, t in ev if t == "purchase"]

    expect_back = set()
    for pid, ps, pu in purchases:
        cand = [(s, eid) for eid, s, u in views if u == pu and s <= ps]
        if cand:
            s, eid = max(cand)  # latest ts, then max event_id
            expect_back.add((pid, eid, ps - s))
        else:
            expect_back.add((pid, None, None))
    got_back = {
        (r["purchase_id"], r["last_view_id"], r["lag_seconds"])
        for r in join_asof(spark, str(d)).collect()
    }
    assert got_back == expect_back

    expect_fwd = set()
    for vid, vs, vu in views:
        cand = [(s, eid) for eid, s, u in purchases if u == vu and s >= vs]
        if cand:
            s = min(x[0] for x in cand)  # earliest ts, then min event_id
            eid = min(eid for t, eid in cand if t == s)
            expect_fwd.add((vid, eid, s - vs))
        else:
            expect_fwd.add((vid, None, None))
    got_fwd = {
        (r["view_id"], r["next_purchase_id"], r["lead_seconds"])
        for r in join_asof_forward(spark, str(d)).collect()
    }
    assert got_fwd == expect_fwd


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_range_interval_join_matches_bruteforce_reference(spark, seed, tmp_path_factory):
    """The bucketized interval join (J6) against a per-row reference on
    random events PLUS planted exact-midnight timestamps — events sitting
    exactly on a bucket boundary are simultaneously t_lo of one interval
    (inclusive, must count) and t_hi of the previous one (exclusive, must
    not), which the fixture corpus never exercises. Pins that the
    bucket-explode + exact-range re-filter composition (joins.py:281)
    implements [t_lo, t_hi) for ANY event placement, not just interior
    points."""
    import random

    from onebrc_spark.operators.joins import join_range_interval

    rng = random.Random(seed)
    day = 86_400
    anchor = (1_700_000_000 // day) * day  # exact midnight epoch
    secs = [anchor + rng.randrange(0, 3 * day) for _ in range(60)]
    secs += [anchor, anchor + day, anchor + 2 * day]  # exact boundaries
    ev_rows = [
        (
            i,
            _utc_dt(s),
            rng.randrange(0, 5),
            "view",
            1.0,
            "{}",
        )
        for i, s in enumerate(secs)
    ]
    # o_orderkey < 28 keeps okey%28 == okey; o_custkey < 150 keeps
    # user_id == o_custkey — so the reference below is direct arithmetic.
    od = _utc_dt(anchor)
    ord_rows = [
        (okey, rng.randrange(0, 5), "O", 1.0, od, "1-URGENT")
        for okey in range(12)
    ]
    d = tmp_path_factory.mktemp("rng") / f"iv_{seed}"
    spark.createDataFrame(
        ev_rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    spark.createDataFrame(
        ord_rows,
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "orders.parquet"))

    ev = [(s, u) for (_, _, u, _, _, _), s in zip(ev_rows, secs)]
    a0 = (min(secs) // day) * day  # date_trunc('day', min(ts))
    expect = {}
    for okey, cust, *_ in ord_rows:
        t_lo = a0 + (okey % 28) * day
        n = sum(1 for s, u in ev if u == cust and t_lo <= s < t_lo + day)
        if n:
            expect[okey] = n
    got = {
        r["o_orderkey"]: r["n_events"]
        for r in join_range_interval(spark, str(d)).collect()
    }
    assert got == expect


@_SETTINGS
@given(seed=st.integers(0, 2**31 - 1))
def test_session_window_exact_gap_boundary(spark, seed, tmp_path_factory):
    """Session windows (ST3) against a per-row reference on random event
    trains with PLANTED exact-30:00 gaps. Spark's merge bound is
    INCLUSIVE: an event exactly gap seconds after the previous one
    CONTINUES the session. This test found the oracle claiming the
    opposite (`>=` split) — green for 9 rounds because random fixture
    seconds never land exactly on the boundary; the oracle now uses the
    strict `>` this reference mirrors. Also plants duplicate timestamps
    (gap 0) and gap-1/gap+1 neighbors."""
    import random

    from onebrc_spark.operators.eventtime import evt_session_window

    rng = random.Random(seed)
    gap = 1800
    base = 1_700_000_000
    rows, epochs, eid = [], [], 0
    for user in range(4):
        t = base + rng.randrange(0, 600)
        for _ in range(rng.randrange(5, 15)):
            # step distribution biased onto the boundary and its neighbors
            t += rng.choice([0, 1, gap - 1, gap, gap, gap + 1, rng.randrange(1, 4000)])
            epochs.append(t)
            rows.append(
                (
                    eid,
                    _utc_dt(t),
                    user,
                    "view",
                    float(rng.randrange(0, 200)) / 2.0,
                    "{}",
                )
            )
            eid += 1
    d = tmp_path_factory.mktemp("sess") / f"ev_{seed}"
    spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    expect = set()
    by_user: dict = {}
    for (_, _, u, _, v, _), s in zip(rows, epochs):
        by_user.setdefault(u, []).append((s, v))
    for u, evs in by_user.items():
        evs.sort()
        sessions, cur = [], [evs[0]]
        for s, v in evs[1:]:
            if s - cur[-1][0] > gap:  # exact gap CONTINUES the session
                sessions.append(cur)
                cur = [(s, v)]
            else:
                cur.append((s, v))
        sessions.append(cur)
        for sess in sessions:
            cents = sum(round(v * 100) for _, v in sess)
            expect.add((u, sess[0][0], len(sess), cents / 100.0))
    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["sum_value"])
        for r in evt_session_window(spark, str(d)).collect()
    }
    assert got == expect
