"""Unit tests for the hash kernels DuckDB can't oracle (SURVEY §5.2).

SimHash invariants + multimodal checksum parity with the mapInPandas kernel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from onebrc_spark.operators.dedup import simhash64, word_3grams
from onebrc_spark.operators.multimodal import _fake_decode, decode_media, media_table
from tests.conftest import SMOKE_SF_DIR


def _sig_of(spark, text: str) -> int:
    """simhash64 over the token hashes dedup_simhash uses: the first 15 md5
    hex chars of each token as a 60-bit integer."""
    df = spark.createDataFrame([(text,)], "text string").select(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
        ).alias("hs")
    )
    return df.select(simhash64("hs").alias("sig")).collect()[0]["sig"]


def test_simhash_identical_texts_equal(spark):
    a = _sig_of(spark, "the quick brown fox jumps over the lazy dog")
    b = _sig_of(spark, "the quick brown fox jumps over the lazy dog")
    assert a == b


def test_simhash_near_texts_close_far_texts_far(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different tokens about database engines and shuffles"
    sa, sn, sf_ = _sig_of(spark, base), _sig_of(spark, near), _sig_of(spark, far)
    ham = lambda x, y: bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")  # noqa: E731
    assert ham(sa, sn) < ham(sa, sf_)
    assert ham(sa, sn) <= 16


def test_word_3grams(spark):
    df = spark.createDataFrame([("a b c d",)], "text string").select(
        word_3grams("text").alias("g")
    )
    assert sorted(df.collect()[0]["g"]) == ["a b c", "b c d"]


def test_ngram_jaccard_block_budget_enforced(spark):
    """Skew guard (VERDICT r1 item 6): a block whose pair count exceeds the
    budget must be diverted to the banded-MinHash fallback — and the planted
    near-dup pairs must still be found on BOTH routes. Also pins
    split_by_block_budget: no block on the exact path exceeds the budget."""
    from onebrc_spark.operators.dedup import (
        ngram_jaccard_pairs,
        split_by_block_budget,
    )

    words = [f"w{i}" for i in range(200)]
    rows = []
    # Hot block: 30 docs in (en, 0) → C(30,2)=435 pairs > cap of 50.
    for i in range(28):
        text = " ".join(words[i * 7 : i * 7 + 6])  # disjoint shingles
        rows.append((i, "en", 0, text))
    rows.append((100, "en", 0, "alpha beta gamma delta epsilon zeta"))
    rows.append((101, "en", 0, "alpha beta gamma delta epsilon zeta"))  # dup pair
    # Small block: 2 docs in (de, 1), also a dup pair.
    rows.append((200, "de", 1, "eins zwei drei vier funf sechs"))
    rows.append((201, "de", 1, "eins zwei drei vier funf sechs"))
    d = spark.createDataFrame(rows, "doc_id long, lang string, len_bucket long, text string")
    docs = d.select(
        "doc_id", "lang", "len_bucket",
        F.array_sort(word_3grams("text")).alias("gset"),
    )

    fits, oversized = split_by_block_budget(docs, ["lang", "len_bucket"], 50)
    assert oversized.count() == 30  # the whole hot block diverted
    fit_blocks = fits.groupBy("lang", "len_bucket").count().collect()
    assert all(r["count"] * (r["count"] - 1) / 2 <= 50 for r in fit_blocks)

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, cap_pairs=50).collect()
    }
    assert pairs[(100, 101)] == 1.0  # found via the LSH fallback route
    assert pairs[(200, 201)] == 1.0  # found via the exact route
    assert len(pairs) == 2  # disjoint-shingle docs produce no false pairs


def test_multimodal_checksum_matches_kernel(spark):
    media = media_table(spark, SMOKE_SF_DIR).limit(20)
    decoded = decode_media(media).collect()
    payloads = {r["media_id"]: r for r in media.collect()}
    assert len(decoded) == 20
    for row in decoded:
        w, h, ck = _fake_decode(
            bytes(payloads[row["media_id"]]["payload"]), row["media_type"]
        )
        assert (row["width"], row["height"], row["checksum"]) == (w, h, ck)


def test_multimodal_features_unit_norm_and_deterministic(spark):
    """Byte-histogram features: L2 norm == 1, fixed dim, and two runs over
    the same payloads agree exactly (Arrow round trip is deterministic)."""
    import math

    from onebrc_spark.operators.multimodal import FEATURE_DIM, extract_features

    media = media_table(spark, SMOKE_SF_DIR).limit(20)
    a = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    b = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    assert a == b and a
    for feats in a.values():
        assert len(feats) == FEATURE_DIM
        assert math.isclose(sum(f * f for f in feats), 1.0, rel_tol=1e-5)


def test_multimodal_resize_payload_is_stride_sample(spark):
    """resize_media emits exactly payload[::stride] — kernel output checked
    byte-for-byte against the definition, not just by length."""
    from onebrc_spark.operators.multimodal import _RESIZE_TARGET, resize_media

    media = media_table(spark, SMOKE_SF_DIR).limit(20)
    originals = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for row in resize_media(media).collect():
        orig = originals[row["media_id"]]
        stride = max(1, -(-len(orig) // _RESIZE_TARGET))
        assert bytes(row["payload"]) == orig[::stride]
        assert row["orig_bytes"] == len(orig)


def test_real_wav_decoder_roundtrip_and_malformed():
    """decode_wav is a REAL RIFF parser: round-trips _build_wav output,
    decodes standard PCM WAVs (odd chunk padding included), rejects junk."""
    import pytest as _pytest

    from onebrc_spark.operators.multimodal import _build_wav, decode_wav

    buf = _build_wav(b"\x01\x02\x03\x04\x05\x06", 16000)
    assert decode_wav(buf) == (1, 16000, 3)
    # extra pre-data chunk with odd size exercises word-alignment padding
    import struct

    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = buf[:12] + extra + buf[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav(patched) == (1, 16000, 3)
    with _pytest.raises(ValueError):
        decode_wav(b"JUNKJUNKJUNKJUNK")
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no data chunk
    # rate=0 must be ValueError, not a downstream ZeroDivisionError
    # (round-5 review): patch the sample-rate field of a valid fmt chunk
    zero_rate = bytearray(buf)
    zero_rate[12 + 8 + 4 : 12 + 8 + 8] = b"\x00\x00\x00\x00"
    with _pytest.raises(ValueError, match="rate"):
        decode_wav(bytes(zero_rate))


def test_real_bmp_decoder_roundtrip_and_malformed():
    import pytest as _pytest

    from onebrc_spark.operators.multimodal import _build_bmp, decode_bmp

    buf = _build_bmp(b"\x10\x20\x30", 5, 7)
    assert decode_bmp(buf) == (5, 7, 24)
    # stride: 5px * 3Bpp = 15 -> padded to 16 per row
    assert len(buf) == 14 + 40 + 16 * 7
    with _pytest.raises(ValueError):
        decode_bmp(b"XX whatever")
    # truncation below the fixed header must be ValueError, not struct.error
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(b"BM")
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(buf[:20])


def _cached_schemas(spark) -> dict[int, str]:
    """Block-storage RDD id → schema of every materialized cached plan.

    The cache manager keeps its entries in a private field, read here by
    reflection; each entry's column buffers are the storage RDD that
    holds its rows."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    out = {}
    entries = field.get(cm).iterator()
    while entries.hasNext():
        rel = entries.next().cachedRepresentation()
        builder = rel.cacheBuilder()
        if builder.isCachedColumnBuffersLoaded():
            out[builder.cachedColumnBuffers().id()] = rel.schema().simpleString()
    return out


def test_minhash_pairs_memoized_without_persist_leak(spark):
    """Round-3 finding: every dedup_minhash_lsh call pinned a fresh shingle
    persist that was never released — a slow executor-memory leak across a
    161-query drive. Now the pair set is memoized per (app, sf_dir) and the
    shingle cache is unpersisted inside the build: a cold build must leave
    no cached plan carrying the (wide) array<string> shingle column, and
    repeat calls must add NO new entries to block-manager storage.

    Persistent RDDs are read from the SparkContext, which updates them
    synchronously (the storage-info listing lags behind on the listener
    bus), and compared by RDD id, not by count: localCheckpoint blocks
    that earlier tests left behind are removed by Spark's ContextCleaner
    whenever the JVM happens to collect them, which can lower the count
    mid-test. A localCheckpoint is not a cached plan, so the schema check
    covers persists only."""
    from onebrc_spark.operators.clustering import clear_components_cache
    from onebrc_spark.operators.dedup import clear_pair_cache, dedup_minhash_lsh
    from tests.conftest import SMOKE_SF_DIR

    sc = spark.sparkContext

    def stored() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    clear_pair_cache()
    clear_components_cache()  # labels derive from the pairs
    before = stored()
    dedup_minhash_lsh(spark, SMOKE_SF_DIR).count()
    after_first = stored()
    wide = {
        rdd: schema
        for rdd, schema in _cached_schemas(spark).items()
        if rdd in after_first - before and "array<string>" in schema
    }
    assert not wide, wide
    dedup_minhash_lsh(spark, SMOKE_SF_DIR).count()
    dedup_minhash_lsh(spark, SMOKE_SF_DIR).count()
    added = stored() - after_first
    assert not added, added


def test_large_input_pair_build_reads_its_collapsed_persist(spark, monkeypatch):
    """Above the short-plan size gate (`small` False) the pair build
    persists the collapsed rows and hands them to spark.sql as an
    argument. spark.sql drops that argument's temp view after the call,
    and dropping a view uncaches a cached plan equal to it; the persist
    must survive the call, and the pair plan must read it instead of
    recomputing the collapse."""
    from pyspark import StorageLevel

    from onebrc_spark.operators import dedup
    from tests.conftest import SMOKE_SF_DIR
    from tests.plan_text import explain_str

    from onebrc_spark.operators.memo import PersistedLRU, persist_for_build

    held = []

    def spy(df):
        held.append(df)
        return persist_for_build(df)

    def build():
        out = dedup._minhash_pairs_plan(spark, SMOKE_SF_DIR, False, 4)
        (collapsed,) = held
        assert collapsed.storageLevel != StorageLevel.NONE
        assert "InMemoryTableScan" in explain_str(out)
        return out

    monkeypatch.setattr(dedup, "persist_for_build", spy)
    memo = PersistedLRU()
    try:
        assert memo.get_or_build("large", build).count() > 0
        # the memo releases the build's persist once the entry is counted
        assert held[0].storageLevel == StorageLevel.NONE
    finally:
        memo.clear()


def test_incremental_rejections_gates_and_asymmetry(spark):
    """Incremental admission (the registered _admission_sql statement): a
    byte-identical new doc is caught by the EXACT gate, a shingled near-dup
    by the NEAR gate, a novel doc passes, and duplicates *within the
    corpus side* are never reported (the corpus×corpus quadrant must not
    be joined). Each batch doc gets its own source, so the per-source
    manifest is a per-doc verdict; doc_ids are picked by their md5 bucket
    (first hex digit of md5(doc_id) < 3 = new batch)."""
    from onebrc_spark.operators.incremental import _admission_sql, _is_new_sqlx

    base = " ".join(f"tok{i % 7} word{i % 11}" for i in range(40))
    near = base.replace("tok1", "tokX", 2)  # high-Jaccard variant
    novel = " ".join(f"zz{i} qq{i}" for i in range(40))
    rows = [
        # corpus: includes an internal exact-dup pair (1, 2) that must NOT
        # appear in the output, and a shingle-less two-token doc.
        (1, "corpus", base),
        (2, "corpus", base),
        (3, "corpus", novel),
        (4, "corpus", "ab cd"),
        # batch
        (6, "exact", base),  # exact dup of corpus doc 1/2 (and Jaccard 1.0)
        (19, "near", near),  # near dup of corpus doc 1
        (24, "novel", "totally fresh content unlike anything else here"),
        # exact dup of corpus doc 4: no shingles, so its near-gate Jaccard
        # is 0/0 → NULL → dropped; only the exact gate can reject it
        (27, "exact_short", "ab cd"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    is_new = F.expr(_is_new_sqlx("doc_id"))
    batch_ids = {r["doc_id"] for r in docs.filter(is_new).collect()}
    assert batch_ids == {6, 19, 24, 27}

    out = {
        r["source"]: (r["n_new"], r["n_admitted"], r["n_rejected"])
        for r in spark.sql(_admission_sql("{docs}"), docs=docs).collect()
    }
    # n_new == 1 for "exact": a doc both gates would catch is counted once
    assert out == {
        "exact": (1, 0, 1),
        "exact_short": (1, 0, 1),
        "near": (1, 0, 1),
        "novel": (1, 1, 0),
    }


def test_incremental_candidate_load_grows_slower_than_global_dedup(spark):
    """The incremental gate's amortization law: with a FIXED ingest batch,
    LSH candidate load against a growing corpus excludes the corpus×corpus
    quadrant, so it grows like the corpus (×k here) while the global-dedup
    candidate load (all band collisions among corpus ∪ batch) grows
    strictly faster — the quadrant difference that makes per-ingest dedup
    affordable at 100 TB where global re-dedup is not."""
    from onebrc_spark.operators.dedup import _band_keys_sqlx, minhash_signature
    from onebrc_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    batch = docs.filter(F.col("doc_id") % 50 == 0)  # fixed ~2% ingest

    def band_occupancy(df):
        return (
            df.select(word_3grams("text").alias("ws"))
            .select(minhash_signature("ws").alias("sig"))
            .select(F.explode(F.expr(_band_keys_sqlx("sig"))).alias("band_key"))
            .groupBy("band_key")
        )

    loads = {}
    for n in (1250, 5000):
        corpus = docs.filter((F.col("doc_id") % 50 != 0) & (F.col("doc_id") < n))
        cb = band_occupancy(corpus).count().withColumnRenamed("count", "nc")
        bb = band_occupancy(batch).count().withColumnRenamed("count", "nb")
        # incremental: batch×corpus collisions only
        inc = (
            bb.join(cb, "band_key")
            .agg(F.sum(F.col("nb") * F.col("nc")))
            .first()[0]
            or 0
        )
        # global: all pairs among (corpus ∪ batch) band collisions
        allb = band_occupancy(corpus.unionByName(batch)).count()
        c = F.col("count")
        full = allb.agg(F.sum(c * (c - 1) / 2)).first()[0] or 0
        loads[n] = (inc, full)

    (inc_s, full_s), (inc_b, full_b) = loads[1250], loads[5000]
    assert 0 < inc_s < full_s and 0 < inc_b < full_b
    inc_growth = inc_b / inc_s
    full_growth = full_b / full_s
    # corpus grew 4x: incremental load tracks it; global load outpaces it.
    assert inc_growth < full_growth
    assert inc_growth < 8  # ~linear in corpus for the fixed batch


def test_overlap_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """Semantic contract of dedup_overlap_containment beyond oracle parity
    (which only proves Spark==DuckDB of the same formula): a short document
    fully quoted inside a much longer one must flag with overlap 1.0 even
    though its Jaccard similarity is far below the 0.8 dedup threshold."""
    import uuid

    from onebrc_spark.operators.dedup import dedup_overlap_containment

    # quote: 12 words -> 10 distinct 3-grams; host: quote + 88 unique words
    quote_words = [f"q{i}" for i in range(12)]
    host_words = quote_words + [f"h{uuid.uuid4().hex[:8]}_{i}" for i in range(88)]
    filler = [  # unrelated docs so the df-cap census has variety
        (10 + i, " ".join(f"f{i}_{j}" for j in range(30)), "en", "filler", 0)
        for i in range(3)
    ]
    rows = [
        (1, " ".join(quote_words), "en", "src", 0),
        (2, " ".join(host_words), "en", "src", 0),
    ] + filler
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            (r["doc_a"], r["doc_b"]): r
            for r in dedup_overlap_containment(spark, d).collect()
        }
    assert (1, 2) in out, out
    r = out[(1, 2)]
    assert r["overlap"] == 1.0 and r["n_a"] == 10 and r["shared"] == 10
    # Jaccard of the same pair is 10 / (10 + 98 - 10) < 0.11 — far below the
    # 0.8 dedup threshold; this is exactly the pair class Jaccard misses.
    jaccard = r["shared"] / (r["n_a"] + r["n_b"] - r["shared"])
    assert jaccard < 0.2, jaccard


def test_boilerplate_segments_df_counts_docs_not_occurrences(spark):
    """Semantic contract of text_boilerplate_segments beyond oracle parity:
    a segment repeated 6x WITHIN one document never flags (df counts
    DISTINCT docs, CCNet semantics), a segment shared by 5 docs is removed
    from all 5, and one shared by only 4 docs survives (tau = 5)."""
    import tempfile

    from onebrc_spark.operators.curation import text_boilerplate_segments

    boiler = "b1 b2 b3 b4"
    near = "c1 c2 c3 c4"
    rows = (
        # 5 docs sharing `boiler` as their first 4-token segment -> hot
        [(i, f"{boiler} u{i}a u{i}b u{i}c u{i}d", "en", "src", 0) for i in range(5)]
        # 4 docs sharing `near` -> df=4 < tau, survives
        + [(10 + i, f"{near} v{i}a v{i}b v{i}c v{i}d", "en", "src", 0) for i in range(4)]
        # 1 doc = the same segment 6x in a row -> df=1, never flags
        + [(20, " ".join(["r1 r2 r3 r4"] * 6), "en", "src", 0)]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = text_boilerplate_segments(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "src" and r["n_docs"] == 10
    assert r["segs_total"] == 5 * 2 + 4 * 2 + 6, r
    assert r["segs_removed"] == 5 and r["docs_touched"] == 5, r
    assert r["chars_removed"] == 5 * len(boiler), r


def test_boilerplate_clean_preserves_order_and_matches_ledger(spark):
    """Semantic contract of text_boilerplate_clean: hot segments vanish
    from every document, surviving segments re-join in ORIGINAL position
    order (including when the hot segment sits in the middle), unique
    content is untouched, empty docs yield empty cleaned_text, and the
    removal totals agree with the ledger twin (shared W/tau contract)."""
    import tempfile

    from onebrc_spark.operators.curation import (
        text_boilerplate_clean,
        text_boilerplate_segments,
    )

    boiler = "b1 b2 b3 b4"
    rows = (
        # hot segment in the MIDDLE: survivors must rejoin around the gap
        [(i, f"u{i}a u{i}b u{i}c u{i}d {boiler} v{i}a v{i}b v{i}c v{i}d", "en", "src", 0)
         for i in range(5)]
        + [(10, "", "en", "src", 0)]
        + [(11, "solo unique words here", "en", "src", 0)]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in text_boilerplate_clean(spark, d).collect()}
        ledger = text_boilerplate_segments(spark, d).collect()[0]
    for i in range(5):
        r = out[i]
        assert r["n_segs"] == 3 and r["n_removed"] == 1, r
        assert r["cleaned_text"] == f"u{i}a u{i}b u{i}c u{i}d v{i}a v{i}b v{i}c v{i}d", r
    assert out[10]["n_segs"] == 0 and out[10]["cleaned_text"] == ""
    assert out[11]["n_removed"] == 0
    assert out[11]["cleaned_text"] == "solo unique words here"
    # the ledger audits exactly this cleaning
    assert ledger["segs_removed"] == sum(r["n_removed"] for r in out.values())
