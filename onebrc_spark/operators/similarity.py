"""Similarity search over embeddings (SURVEY §2.10 X3).

Two paths, one semantics:
  - sim_knn_bruteforce: exact cosine top-k — the baseline. Query vectors are
    a broadcast side; the scan side computes dot/norm with zip_with/aggregate
    higher-order functions (JVM codegen, no Python). O(|queries|·N).
  - sim_ann_lsh: random-hyperplane LSH — the 100 TB path. Vectors bucket by
    the sign pattern of dot products with H fixed hyperplanes; only same-
    bucket pairs are scored. Sub-linear candidate sets; recall tunable by H
    and multi-probe (not needed here).

Portability design: hyperplanes are deterministic constants computed in
Python (md5-derived integers, see _hyperplanes) and inlined as literals into
BOTH the Spark plan and the DuckDB oracle SQL — so bucket assignment and the
exact cosine math (sequential double accumulation over 64 dims) are bit-equal
across engines and the ANN result is hash-verified, not rows-only.

Cosine nondeterminism note: all sums are fixed-order (per-vector array fold),
not shuffle-order-dependent, so no float drift between runs or engines.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onebrc_spark.operators.aggregates import half_away_long
from onebrc_spark.registry import query
from onebrc_spark.schemas import EMBEDDING_DIM
from onebrc_spark.sources.catalog import (
    load_table,
    small_for_twin,
    spread,
    src_bytes_hint,
)

_KNN_K = 5
_N_QUERIES = 10  # vec_id < 10 are the query vectors
_LSH_PLANES = 8

# Similarity cut-offs, calibrated to the synthetic corpus: the test
# embeddings are near-uniform random vectors, so genuine near-duplicates
# (cos ≥ 0.9) don't exist at any SF — the round-1 thresholds of 0.9/0.98
# returned 0 rows, making the oracle green vacuous. Within-bucket cosine
# tops out at ~0.41/0.48/0.60 for sf0.001/0.01/0.1, so 0.30 (ANN "related")
# and 0.38 (near-dup, tighter) keep real, non-empty result sets at every SF
# while exercising the identical operator shape. Production values would be
# 0.8-0.98 depending on the embedding model.
_ANN_COS_MIN = 0.30
_NEARDUP_COS_MIN = 0.38


def _plane(tag: str) -> list[int]:
    """One deterministic integer hyperplane in [-500, 499], md5-derived.

    Integers (not floats) so both engines materialize identical doubles from
    the inlined literals.
    """
    return [
        int(hashlib.md5(f"{tag}:{d}".encode()).hexdigest()[:8], 16) % 1000 - 500
        for d in range(EMBEDDING_DIM)
    ]


def _hyperplanes() -> list[list[int]]:
    """The fixed single-table hyperplane set (sim_ann_lsh)."""
    return [_plane(f"plane{j}") for j in range(_LSH_PLANES)]


def banded_hyperplanes(n_bands: int, rows_per_band: int) -> list[list[list[int]]]:
    """[band][plane][dim] deterministic hyperplanes for banded sign-LSH.

    Each band is an independent hash table of 2^rows_per_band buckets: a
    pair is a candidate iff ALL rows_per_band signs agree in AT LEAST one
    band (the same AND-of-rows / OR-of-bands s-curve as the MinHash
    construction in dedup.py). This is the 100 TB parameterization the
    fixed 8-plane table lacks: rows_per_band scales with log2(N) to pin
    expected bucket occupancy (candidates stay O(N), not O(N²/2^H)), and
    n_bands buys recall back independently.
    """
    return [
        [_plane(f"bplane{band}:{j}") for j in range(rows_per_band)]
        for band in range(n_bands)
    ]


def _cosine_sqlx(a: str, b: str) -> str:
    """Spark-SQL text of cosine(a, b) over array references — the identical
    fold (same element order, same double casts, same zero-norm NULL
    guard), built by ONE JVM parse instead of ~150 py4j round trips (r13
    optimization round — expression construction dominated the build phase
    of the similarity family; see OPTIMIZATION_r13.md)."""
    da = f"transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"transform({b}, x -> CAST(x AS DOUBLE))"
    dot = f"aggregate(zip_with({da}, {db}, (x, y) -> x * y), 0.0D, (s, x) -> s + x)"
    na = f"sqrt(aggregate(transform({da}, x -> x * x), 0.0D, (s, x) -> s + x))"
    nb = f"sqrt(aggregate(transform({db}, x -> x * x), 0.0D, (s, x) -> s + x))"
    den = f"({na} * {nb})"
    return f"(({dot}) / nullif({den}, 0.0D))"


def sql_double_array(vals) -> str:
    """A double-array literal as Spark-SQL text. CAST('repr' AS DOUBLE)
    per element: repr() is the shortest round-trip decimal and string→
    double parse is correctly rounded, so the literal is bit-identical to
    F.lit(np.asarray(vals, float64))."""
    return "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + ")"


def cosine(a: Column | str, b: Column | str) -> Column:
    """Exact cosine similarity of two float-array columns, double math.

    A zero-norm vector makes the denominator 0.0: ANSI Spark 4 throws
    DIVIDE_BY_ZERO for EVERY numeric type (verified live — doubles do NOT
    yield Inf/NaN under ANSI), while DuckDB's x/0 is NULL. The NULL guard
    makes a degenerate vector's similarity NULL in both engines (dropped
    by every >= threshold filter) instead of killing the job — the
    edge-fixture hardening class; the driver's random embeddings never
    contain a zero vector, so this was latent.

    Accepts SQL reference STRINGS (preferred: one F.expr — see
    _cosine_sqlx) or Columns (legacy py4j-built path, identical doubles —
    pinned in tests/test_properties.py)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cosine_sqlx(a, b))
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(da, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(db, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    den = na * nb
    return dot / F.when(den == 0.0, F.lit(None)).otherwise(den)


_COS_SQL = """
    list_aggregate(list_transform(range(1, {dim} + 1),
        i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')
    / (sqrt(list_aggregate(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
       * sqrt(list_aggregate(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
"""


def _cos_sql(a: str, b: str) -> str:
    return _COS_SQL.format(a=a, b=b, dim=EMBEDDING_DIM)


def cos_round6(c: Column) -> Column:
    """6-dp cosine quantization that is DETERMINISTIC ACROSS ENGINES:
    floor(x·1e6 + 0.5)/1e6 — binary float ops only, so two engines holding
    the same (or ±1-ulp-noisy) double take the same branch everywhere
    except within noise of a scaled .5 boundary.

    round(x, 6) is NOT that function (r12 boundary find, the program's
    fourth live catch): Spark's Round goes through BigDecimal.valueOf —
    i.e. the DECIMAL SHORTEST-STRING view of x — with HALF_UP, while
    DuckDB rounds the BINARY value; for a double whose shortest repr lands
    exactly on a 7th-digit 5 the two views disagree on which side of the
    tie x sits. Measured: 10,108 of the 900,000 ties k/1e7 (k ≡ 5 mod 10)
    diverge — e.g. round(0.1250005, 6) = 0.125001 in Spark, 0.125 in
    DuckDB, confirmed live, and such cosines are exactly constructible
    from integer-coordinate embeddings (planted in
    tests/test_boundary_properties.py::test_cosine_round_tie_divergence).
    The fixtures' random cosines never land on short-repr ties, which is
    why ten rounds of green CORRECTNESS never saw it. Same idiom as the
    sim_embedding_quantize quantizer (floor(x·1e9 + 0.5), :728), which
    documented this exact hazard for round() at registration time.

    Semantics note: at negative half-ties floor(x·1e6 + 0.5) rounds
    toward +inf where round() rounds away from zero — an acceptable,
    documented difference because BOTH engines now compute the identical
    expression."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _cos6_sql(a: str, b: str) -> str:
    """DuckDB twin of cos_round6(cosine(a, b)) — see cos_round6."""
    return f"(floor(({_cos_sql(a, b)}) * 1000000 + 0.5) / 1000000)"


@query(
    "sim_knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.qid, e.vec_id AS nid,
             {_cos6_sql('q.qv', 'e.embedding')} AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ), ranked AS (
      SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, nid) AS rn
      FROM scored
    )
    SELECT qid, nid, cos_sim, rn FROM ranked WHERE rn <= {_KNN_K}
    ORDER BY qid, rn
    """,
    survey_ref="X3",
)
def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each of 10 query vectors.

    The query side is broadcast (10 rows), so the big side streams through a
    BroadcastNestedLoopJoin with no shuffle of the corpus; per-query top-k is
    a window. Ranked by (cos DESC, vec_id) for determinism on ties.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cos_round6(cosine("qv", "embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .orderBy("qid", "rn")
    )


def _bucket_sqlx_for(emb: str, planes: list[list[int]]) -> str:
    """Spark-SQL text of _bucket_for over an embedding reference — the same
    sign-pattern sum (same fold order, same cast-to-double multiply), built
    by ONE JVM parse instead of ~3,500 py4j round trips for the 8×dim
    literal planes (r13 optimization round; the bucket builder dominated
    the build phase of sim_ann_lsh and dedup_embedding_neardup)."""
    terms = ["0"]
    for j, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"{float(v)!r}D" for v in plane) + ")"
        dot = (
            f"aggregate(zip_with({emb}, {arr}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (s, x) -> s + x)"
        )
        terms.append(f"CASE WHEN ({dot}) > 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _bucket_for(emb: Column | str, planes: list[list[int]]) -> Column:
    """Sign-pattern bucket id (0..2^len(planes)-1) for one plane set.
    Pass a SQL reference string for the one-parse fast path (see
    _bucket_sqlx_for; pinned in tests/test_sqlx_twins.py)."""
    if isinstance(emb, str):
        return F.expr(_bucket_sqlx_for(emb, planes))
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        pv = F.array(*[F.lit(float(v)) for v in plane])
        dot = F.aggregate(
            F.zip_with(emb, pv, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(0)
    return bucket


def lsh_bucket(emb: Column | str) -> Column:
    """Sign-pattern LSH bucket id (0..2^H-1) from the fixed hyperplanes."""
    return _bucket_for(emb, _hyperplanes())


def _bucket_sql_for(emb: str, planes: list[list[int]]) -> str:
    terms = []
    for j, plane in enumerate(planes):
        arr = "[" + ", ".join(f"{v}.0" for v in plane) + "]"
        dot = (
            f"list_aggregate(list_transform(range(1, {EMBEDDING_DIM} + 1), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ({arr})[i]), 'sum')"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(terms)


def _lsh_bucket_sql(emb: str) -> str:
    return _bucket_sql_for(emb, _hyperplanes())


def banded_lsh_buckets(e: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """(vec_id, embedding, band, bucket) — one row per (vector, band).

    The scale path: at corpus size N choose rows_per_band ≈ log2(N) + c so
    each band's 2^rows buckets keep expected occupancy ~2^-c·1 and the
    candidate join stays O(N) per band; n_bands restores recall
    (P(candidate) = 1 - (1 - p^rows)^bands for per-plane agreement p).
    The fixed-H single table (sim_ann_lsh) is the n_bands=1 special case
    and stops scaling once N ≫ 2^H — this construction is what replaces it
    at 100 TB.
    """
    planes = banded_hyperplanes(n_bands, rows_per_band)
    # ONE Literal node holding all bands' planes, consumed by nested
    # higher-order functions — NOT n_bands×rows separate inlined fold
    # expressions. The unrolled form was ~3.5 s of constant per-call
    # planning/codegen overhead (measured flat across sf0.01 and sf0.1);
    # this form is a constant-size expression tree regardless of band
    # count. The fold order inside each dot product is unchanged
    # (sequential over dims, cast-to-double multiply, 0.0 init), so bucket
    # ids stay bit-equal to the DuckDB oracle's inlined constants.
    planes_lit = (
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"{float(v)}D" for v in plane) + ")"
                for plane in band
            )
            + ")"
            for band in planes
        )
        + ")"
    )
    # The WHOLE entries expression as one SQL string → one JVM parse (r13:
    # the previous form built the nested higher-order tree through ~400
    # py4j round trips per call — pure driver-side build cost; the parsed
    # Catalyst tree and therefore every bucket id is unchanged, pinned by
    # the oracle hash). `1 << j` stays the exact power-of-two double cast,
    # and the dot fold keeps its sequential cast-to-double element order.
    dot = (
        "aggregate(zip_with(embedding, plane, (x, y) -> CAST(x AS DOUBLE) * y), "
        "0.0D, (s, x) -> s + x)"
    )
    entries = F.expr(
        f"transform({planes_lit}, (band_planes, band) -> named_struct("
        f"'band', CAST(band AS INT), "
        f"'bucket', aggregate(transform(band_planes, (plane, j) -> "
        f"CASE WHEN ({dot}) > 0 THEN CAST(power(2.0D, CAST(j AS DOUBLE)) AS INT) "
        f"ELSE 0 END), 0, (s, x) -> s + x)))"
    )
    return e.select("vec_id", "embedding", F.explode(entries).alias("bb")).select(
        "vec_id", "embedding", "bb.band", "bb.bucket"
    )


def banded_lsh_pairs(e: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) that collide in ≥1 band."""
    b = banded_lsh_buckets(e, n_bands, rows_per_band).select(
        "vec_id", "band", "bucket"
    )
    a = b.alias("a")
    bb = b.alias("b")
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


# Banded-stats query parameters: 4 independent tables of 2^12 buckets.
_STATS_BANDS = 4
_STATS_ROWS = 12


def _banded_stats_sql() -> str:
    """Per-band bucket census: candidate-pair load per band, computed
    WITHOUT running the pair join (sum over buckets of C(occupancy, 2)) —
    the planning-time cost estimate you'd use before launching the join at
    scale."""
    planes = banded_hyperplanes(_STATS_BANDS, _STATS_ROWS)
    parts = []
    for band in range(_STATS_BANDS):
        parts.append(f"""
        SELECT {band} AS band,
               count(*) AS n_buckets,
               CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT) AS n_candidates
        FROM (
          SELECT {_bucket_sql_for('embedding', planes[band])} AS bucket,
                 count(*) AS c
          FROM embeddings GROUP BY 1
        )""")
    return " UNION ALL ".join(parts) + " ORDER BY band"


@query(
    "sim_lsh_candidate_stats",
    oracle=_banded_stats_sql(),
    survey_ref="X3 (banded LSH: scale parameterization)",
)
def sim_lsh_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-load census of the banded LSH index (4 bands × 12 planes):
    per band, how many distinct buckets are occupied and how many candidate
    pairs the band would emit (Σ C(occupancy, 2)) — computed from the bucket
    histogram alone, no pair join. This is the operator a 100 TB pipeline
    runs FIRST: it prices the candidate join (and flags a hot bucket) for
    one cheap aggregation, and it is the evidence that candidate count is
    bounded by plane count, which the fixed-8-plane table can't deliver
    once N ≫ 2^8 (tests/test_properties.py pins the scaling law across
    SFs)."""
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    b = banded_lsh_buckets(e, _STATS_BANDS, _STATS_ROWS)
    occ = b.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("c"))
    census = occ.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("n_candidates"),
    )
    # The band list is an index PARAMETER, not data: the census must carry
    # every band even when the corpus (or a band's bucket set) is empty —
    # an empty-partition-day cost estimate is "0 candidates", not "no rows".
    spine = spark.range(_STATS_BANDS).select(F.col("id").cast("int").alias("band"))
    return (
        spine.join(census, "band", "left")
        .select(
            "band",
            F.coalesce("n_buckets", F.lit(0)).cast("long").alias("n_buckets"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
        )
        .orderBy("band")
    )


@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
             {_cos6_sql('a.embedding', 'b.embedding')} AS cos_sim
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, bucket, cos_sim FROM pairs
    WHERE cos_sim >= {_ANN_COS_MIN}
    ORDER BY id_a, id_b
    """,
    survey_ref="X3",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN near-neighbor pairs: 8-hyperplane sign-LSH bucketing, exact cosine
    ≥ _ANN_COS_MIN within buckets only. The shuffle key is the bucket id —
    bucketed candidate generation vs the bruteforce O(N²); see
    banded_lsh_pairs for the 100 TB-scalable banded construction.
    Hash-verified: the oracle reproduces identical buckets and cosines from
    the same inlined hyperplane constants."""
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    b = e.select("vec_id", "embedding", lsh_bucket("embedding").alias("bucket"))
    a = b.alias("a")
    bb = b.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.bucket").alias("bucket"),
            cos_round6(cosine("a.embedding", "b.embedding")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _ANN_COS_MIN)
        .orderBy("id_a", "id_b")
    )


def _banded_pairs_sql() -> str:
    """DuckDB twin of banded_lsh_pairs(4, 12) + exact-cosine verification —
    the sim_ann_lsh_banded oracle body. Same inlined hyperplane constants
    as the Spark plan, so buckets and cosines are bit-equal."""
    planes = banded_hyperplanes(_STATS_BANDS, _STATS_ROWS)
    band_tables = " UNION ALL ".join(
        f"SELECT vec_id, {band} AS band, "
        f"{_bucket_sql_for('embedding', planes[band])} AS bucket FROM embeddings"
        for band in range(_STATS_BANDS)
    )
    return f"""
    WITH bands AS ({band_tables}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    , verified AS (
      SELECT id_a, id_b,
             {_cos6_sql('ea.embedding', 'eb.embedding')} AS cos_sim
      FROM cand
      JOIN embeddings ea ON ea.vec_id = id_a
      JOIN embeddings eb ON eb.vec_id = id_b
    )
    SELECT id_a, id_b, cos_sim FROM verified
    WHERE cos_sim >= {_ANN_COS_MIN}
    ORDER BY id_a, id_b
    """


@query(
    "sim_ann_lsh_banded",
    oracle=_banded_pairs_sql(),
    survey_ref="X3 (banded LSH ANN pairs: the 100 TB candidate path)",
)
def sim_ann_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN near-neighbor pairs via BANDED sign-LSH (4 bands × 12 planes),
    exact cosine ≥ _ANN_COS_MIN (0.30) on candidates only — the headline
    ANN pairs query.

    Why this replaces the single-table sim_ann_lsh as the headline: one
    8-plane table is 256 buckets forever, so candidate pairs grow as
    N²/256 — quadratic at 100× embeddings. Here each band has 2^12 buckets
    and rows_per_band tracks log2(N) (see banded_lsh_buckets), keeping
    per-band candidate load ~O(N) with recall restored by band count —
    1 - (1 - p^rows)^bands. The candidate census that prices this join
    before launch is sim_lsh_candidate_stats (same plane constants);
    tests/test_plans.py pins the sub-quadratic candidate bound.

    Plan shape: explode to (vec_id, embedding, band, bucket) and shuffle
    ONCE on (band, bucket) with the embedding carried through — the exact
    cosine is computed inside the band join and the ≥threshold filter runs
    BEFORE the pair-dedup, so no separate verification join is needed (two
    joins saved; a candidate colliding in k≤4 bands pays k cosine folds,
    cheaper than re-joining the embedding table twice). Shuffle payload is
    n_bands × the vector (~1 KB/vec at 64 dims) — linear in corpus size.
    Candidate pruning and exact verification are the same
    LSH-prunes/cosine-decides contract as dedup_minhash_lsh."""
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    b = banded_lsh_buckets(e, _STATS_BANDS, _STATS_ROWS)
    a = b.alias("a")
    bb = b.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos_round6(cosine("a.embedding", "b.embedding")).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= _ANN_COS_MIN)
        .distinct()  # a pair may collide in several bands; cosine is
        # deterministic (fixed-order fold) so the copies are identical rows
        .orderBy("id_a", "id_b")
    )


@query(
    "sim_label_centroid",
    oracle="""
    SELECT label, count(*) AS n_vecs,
           -- floor quantizer, not round() (r12, see cos_round6): immune to
           -- the decimal-vs-binary tie divergence on short-repr means AND
           -- structurally -0.0-free (floor of a +0.5-shifted value in
           -- [0,1) is +0), subsuming the r11 signed-zero fold
           floor(avg(CAST(embedding[1] AS DOUBLE)) * 10000 + 0.5) / 10000
             AS centroid_d1,
           floor(avg(CAST(embedding[2] AS DOUBLE)) * 10000 + 0.5) / 10000
             AS centroid_d2
    FROM embeddings GROUP BY label ORDER BY label
    """,
    survey_ref="X3",
)
def sim_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (first two dimensions reported) — the assignment
    table of an IVF-style partitioned ANN index (assign each vector to its
    nearest centroid's partition; search only that partition). The full
    centroid is the same plan over posexplode(embedding) grouped by
    (label, pos)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.floor(F.avg(F.element_at("embedding", 1).cast("double"))
                     * 10000 + F.lit(0.5)) / 10000).alias("centroid_d1"),
            (F.floor(F.avg(F.element_at("embedding", 2).cast("double"))
                     * 10000 + F.lit(0.5)) / 10000).alias("centroid_d2"),
        )
        .orderBy("label")
    )


@query(
    "dedup_embedding_neardup",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
             {_cos6_sql('a.embedding', 'b.embedding')} AS cos_sim
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT keep_id, drop_id, cos_sim FROM pairs
    WHERE cos_sim >= {_NEARDUP_COS_MIN}
    ORDER BY keep_id, drop_id
    """,
    survey_ref="X2,X3",
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection (the semantic-dedup pass of
    an LLM data pipeline): LSH-bucketed candidate pairs at cosine ≥
    _NEARDUP_COS_MIN, keep-lowest-id policy. Same hyperplane machinery as
    sim_ann_lsh, tighter threshold — semantic dedup is ANN search with a
    keep rule."""
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    b = e.select("vec_id", "embedding", lsh_bucket("embedding").alias("bucket"))
    a = b.alias("a")
    bb = b.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("keep_id"),
            F.col("b.vec_id").alias("drop_id"),
            cos_round6(cosine("a.embedding", "b.embedding")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _NEARDUP_COS_MIN)
        .orderBy("keep_id", "drop_id")
    )


_IVF_K = 8  # coarse centroids (cells); probe 1 cell per query


def _centroids() -> list[list[int]]:
    """Deterministic integer coarse-quantizer centroids, md5-derived (same
    portability trick as _hyperplanes: identical literals inline into both
    engines, so cell assignment is bit-equal)."""
    cents = []
    for j in range(_IVF_K):
        row = []
        for d in range(EMBEDDING_DIM):
            h = hashlib.md5(f"cent{j}:{d}".encode()).hexdigest()
            row.append(int(h[:8], 16) % 1000 - 500)
        cents.append(row)
    return cents


def _cell_scores(emb: Column | str) -> Column:
    """Array of cosine(emb, centroid_j) for all K centroids. Pass a SQL
    reference string for the one-parse fast path (see _cosine_sqlx)."""
    if isinstance(emb, str):
        return F.expr(
            "array("
            + ", ".join(
                _cosine_sqlx(emb, sql_double_array([float(v) for v in c]))
                for c in _centroids()
            )
            + ")"
        )
    return F.array(
        *[cosine(emb, F.lit([float(v) for v in c])) for c in _centroids()]
    )


def _ivf_cells_sql() -> str:
    """DuckDB CTE body: embeddings + 1-based nearest-centroid cell id."""
    cos_terms = []
    for c in _centroids():
        arr = "(" + "[" + ", ".join(f"{v}.0" for v in c) + "]" + ")"
        cos_terms.append(_cos_sql("embedding", arr))
    cs = "[" + ", ".join(cos_terms) + "]"
    return f"""
      SELECT vec_id, embedding,
             list_indexof(cs, list_aggregate(cs, 'max')) AS cell
      FROM (SELECT vec_id, embedding, {cs} AS cs FROM embeddings)
    """


@query(
    "sim_ann_ivf",
    oracle=f"""
    WITH celled AS ({_ivf_cells_sql()}),
    q AS (SELECT vec_id AS qid, embedding AS qv, cell AS qcell
          FROM celled WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             {_cos6_sql('q.qv', 'c.embedding')} AS cos_sim
      FROM q JOIN celled c ON c.cell = q.qcell AND c.vec_id <> q.qid
    ), ranked AS (
      SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, nid) AS rn
      FROM scored
    )
    SELECT qid, nid, cos_sim, rn FROM ranked WHERE rn <= {_KNN_K}
    ORDER BY qid, rn
    """,
    survey_ref="X3 (IVF coarse-quantizer ANN)",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 8 coarse
    centroids (one Expand-free pass, cell = argmax cosine), then each query
    probes ONLY its own cell — top-5 by exact cosine within the cell.

    This is the other half of the ANN design space vs sim_ann_lsh: LSH
    buckets by random projection (no training, recall from multi-probe);
    IVF partitions by a centroid table (here fixed constants; in production
    a k-means sample) and bounds search to nprobe/K of the corpus. At
    100 TB the cell id is a partition key: each probe is a partition-pruned
    scan + local top-k, no cross-cell shuffle. Centroid literals inline into
    both engines, so cells — and therefore results — are hash-verified.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)

    def build():
        # Single-fold argmax (r9, same fix as _ivf_probe2_audit): the
        # array_position(cs, array_max(cs)) form referenced `cs` twice and
        # project collapse re-inlined all 8 dim-64 cosine folds into each
        # reference. _top2_cells references cs once; b_i == 0 only when
        # every score is NULL (a NULL-ed non-finite embedding), which the
        # when() maps back to the old form's NULL cell — NULL never joins,
        # so degenerate vectors stay out of probe results in BOTH engines
        # (0 would self-join all-NULL rows into ranked output here while
        # the oracle's list_indexof yields NULL — a hash divergence).
        t2 = _top2_cells(_cell_scores("embedding"))
        return e.select(
            "vec_id",
            "embedding",
            F.when(t2["b_i"] > 0, t2["b_i"]).alias("cell"),
        )

    # Two plan branches (query set + probe side) otherwise re-evaluate the
    # assignment over the whole corpus; _memoized_celled persists the cell
    # table (the IVF index build) in the shared bounded LRU so repeated
    # sweep builds are cache hits.
    celled = _memoized_celled(
        (spark.sparkContext.applicationId, sf_dir, "fixed"),
        build,
        small=small_for_twin(src_bytes_hint(e)),
    )
    q = celled.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("cell").alias("qcell"),
    )
    scored = (
        celled.join(
            F.broadcast(q),
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cos_round6(cosine("qv", "embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .orderBy("qid", "rn")
    )


def _top2_cells(cs: Column) -> Column:
    """Indices of the two largest entries of a score array as a struct
    (b_c, b_i, s_c, s_i), ties resolving to the LOWEST index first — the
    row_number()-over-(score DESC, cell ASC) rn=1/rn=2 semantics the IVF
    oracles replay. One fold referencing `cs` exactly once: the naive
    array_position(cs, array_max(cs)) + masked-second form references it
    six times, and project collapse re-inlines the full 8×dim-64 cosine
    tree into every reference (the minhash_signature codegen-blowup
    class). Indices are 1-based longs, 0 for an empty array."""
    pairs = F.zip_with(
        cs,
        F.sequence(F.lit(1), F.size(cs)),
        lambda c, i: F.struct(c.alias("c"), i.cast("long").alias("i")),
    )
    init = F.struct(
        F.lit(-1e300).alias("b_c"),
        F.lit(0).cast("long").alias("b_i"),
        F.lit(-1e300).alias("s_c"),
        F.lit(0).cast("long").alias("s_i"),
    )

    def step(acc: Column, p: Column) -> Column:
        best = p["c"] > acc["b_c"]  # strict: ties keep the earlier index
        sec = (~best) & (p["c"] > acc["s_c"])
        return F.struct(
            F.when(best, p["c"]).otherwise(acc["b_c"]).alias("b_c"),
            F.when(best, p["i"]).otherwise(acc["b_i"]).alias("b_i"),
            F.when(best, acc["b_c"])
            .otherwise(F.when(sec, p["c"]).otherwise(acc["s_c"]))
            .alias("s_c"),
            F.when(best, acc["b_i"])
            .otherwise(F.when(sec, p["i"]).otherwise(acc["s_i"]))
            .alias("s_i"),
        )

    return F.aggregate(pairs, init, step)


def kmeans_fit(
    e: DataFrame, k: int = _IVF_K, iters: int = 3
) -> list[list[float]]:
    """Lloyd's k-means over the embedding corpus — the trained coarse
    quantizer the fixed md5 _centroids() stand in for (VERDICT r1 noted the
    production gap; this closes it).

    Deterministic: init = the md5-derived constants, assignment = argmax
    cosine with a fixed tie-break (first maximal cell), update = per-cell
    coordinate means computed on QUANTIZED integers (×1e9 per coordinate,
    summed as exact longs, divided once on the driver) — a raw F.avg over
    doubles would carry partition-merge-order low bits (the repo's lint
    class), making "repeated fits agree bit-for-bit" hold only within one
    session's partitioning. With integer sums the fit is a pure function
    of the data under ANY parallelism (pinned in tests). Quantization
    error 5e-10 per coordinate is noise against the corpus scale.

    The quantizer is floor(x·1e9 + 0.5), NOT round(x·1e9): round() on
    doubles is string-BigDecimal HALF_UP in Spark but binary in DuckDB
    (the registry's cross-engine round class), while floor of the
    identical IEEE product+sum is bit-equal in both engines — which is
    what lets sim_ann_ivf_trained's oracle REPLAY this whole fit in SQL
    and hash-verify the trained retrieval end-to-end.

    Scale design: each iteration is ONE distributed pass — assign cells
    row-locally against broadcast centroid literals, then posexplode the
    vector and hash-aggregate (cell, dim) means. The driver only ever
    collects k x dim floats per iteration (the model, never the data);
    empty cells keep their previous centroid. This is the standard
    iterative-refinement shape Spark runs fine at 100 TB: iterations are
    few and each is embarrassingly parallel. In production the fit runs on
    a sample (e.g. 1%) — pass e.sample(...) for that.
    """
    cents = [[float(v) for v in c] for c in _centroids()[:k]]
    dim = EMBEDDING_DIM
    for _ in range(iters):
        # coalesce(cos, -2) totalizes the argmax: a zero-norm vector's
        # cosines are all NULL (cosine()'s ANSI guard), which would give it
        # a NULL cell here but cell 1 in the oracle's row_number replay —
        # the sentinel sends it to the first cell in BOTH engines.
        # F.lit(ndarray) (r9, correcting r8's comment — ADVICE r8): in
        # classic PySpark, lit(list) desugars to array(*[lit(v) ...]) — the
        # same 64-node tree, only constant-folded AFTER analysis — whereas
        # lit(1-D ndarray) builds ONE ArrayType Literal pre-analysis
        # (verified on this install: the parsed plan shows `[v,...]`, not
        # `array(v, ...)`). float64 round-trips the Python doubles exactly,
        # so values are bit-identical.
        cs = F.array(
            *[
                F.coalesce(
                    cosine(
                        F.col("embedding"),
                        F.lit(np.asarray(c, dtype=np.float64)),
                    ),
                    F.lit(-2.0),
                )
                for c in cents
            ]
        )
        # single-fold argmax: array_position(cs, array_max(cs)) references
        # the 8-cosine tree twice; the fold references it once (see
        # _top2_cells — identical first-maximal tie semantics)
        assigned = e.select("embedding", _top2_cells(cs)["b_i"].alias("cell"))
        rows = (
            assigned.select(
                "cell", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
            )
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.floor(F.col("x") * 1e9 + 0.5).cast("long")).alias("s"),
                F.count("x").alias("n"),
            )
            .collect()
        )
        new = {(r["cell"], r["pos"]): r["s"] / r["n"] / 1e9 for r in rows}
        cents = [
            [new.get((c + 1, d), cents[c][d]) for d in range(dim)] for c in range(k)
        ]
    return cents


def _cosine_local(a, b) -> float | None:
    """Driver-side replay of cosine(): identical operation order — left
    fold of x·y / (sqrt(left fold x²) · sqrt(left fold y²)) in doubles —
    so the result is bit-equal to the Spark column and the DuckDB
    list_aggregate replay. None (NULL vector) and zero-norm both yield
    None, matching the engine's NULL-cosine guard."""
    if a is None or b is None:
        return None
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    na = 0.0
    for x in a:
        dx = float(x)
        na += dx * dx
    nb = 0.0
    for y in b:
        dy = float(y)
        nb += dy * dy
    den = math.sqrt(na) * math.sqrt(nb)
    return None if den == 0.0 else dot / den


def _kmeans_fit_local(
    vecs: list, k: int = _IVF_K, iters: int = 3
) -> list[list[float]]:
    """kmeans_fit replayed driver-locally over an ALREADY-COLLECTED sample
    (r9): the sampled-fit query's input is a fixed m=128 rows at any
    corpus size, and every fit step is exact integer math or a fixed-order
    IEEE expression — the same property that lets the DuckDB oracle unroll
    it — so running the Lloyd loop in Python is bit-identical to the
    distributed version (pinned by execution in tests/test_properties.py)
    while skipping 3 per-iteration Spark jobs whose data is 128 rows.

    Semantics mirrored exactly from kmeans_fit: NULL-cosine → -2.0
    sentinel (zero-norm and NULL vectors land in cell 1), assignment =
    FIRST maximal cell, update = per-(cell, 0-based pos) means over exact
    floor(x·1e9+0.5) integer sums (order-independent), NULL vectors
    contribute no coordinates (posexplode of NULL emits nothing), empty
    cells keep their previous centroid."""
    cents = [[float(v) for v in c] for c in _centroids()[:k]]
    dim = EMBEDDING_DIM
    for _ in range(iters):
        sums: dict[tuple[int, int], list] = {}
        for emb in vecs:
            cs = [
                c if (c := _cosine_local(emb, cent)) is not None else -2.0
                for cent in cents
            ]
            cell = cs.index(max(cs)) + 1
            if emb is None:
                continue
            for pos, x in enumerate(emb):
                acc = sums.get((cell, pos))
                if acc is None:
                    sums[(cell, pos)] = [
                        int(math.floor(float(x) * 1e9 + 0.5)), 1
                    ]
                else:
                    acc[0] += int(math.floor(float(x) * 1e9 + 0.5))
                    acc[1] += 1
        new = {key: s / n / 1e9 for key, (s, n) in sums.items()}
        cents = [
            [new.get((c + 1, d), cents[c][d]) for d in range(dim)]
            for c in range(k)
        ]
    return cents


def _kmeans_iter_sql(prev: str, nxt: str, src: str = "embeddings") -> str:
    """One unrolled Lloyd iteration as DuckDB CTEs: assign every vector of
    `src` to its argmax-cosine cell against the `prev` centroid table (tie →
    first maximal cell, same as Spark's array_position-of-max), re-estimate
    per-cell coordinate means on exact floor(x·1e9+0.5) integers, and keep
    the previous centroid for empty cells — a literal SQL replay of
    kmeans_fit's one distributed pass. `src` is the fit corpus: the full
    embeddings table, or the hash-sample CTE of the sampled-fit twin."""
    return f"""
    {nxt}_assign AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY coalesce({_cos_sql('e.embedding', 'c.cvec')}, -2.0)
                            DESC,
                          c.cell ASC
               ) AS rn
        FROM {src} e CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    {nxt}_sums AS (
      SELECT cell, pos,
             CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM (SELECT cell,
                   unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM {nxt}_assign)
      GROUP BY cell, pos
    ),
    {nxt}_new AS (
      SELECT cell,
             list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 ORDER BY pos)
               AS cvec
      FROM {nxt}_sums GROUP BY cell
    ),
    {nxt} AS (
      SELECT p.cell, coalesce(n.cvec, p.cvec) AS cvec
      FROM {prev} p LEFT JOIN {nxt}_new n ON n.cell = p.cell
    )"""


def _ivf_trained_sql(fit_src: str | None = None) -> str:
    """Full SQL twin of sim_ann_ivf_trained: replay the 3-iteration k-means
    fit (possible because every fit step is either exact integer math or a
    fixed-order IEEE expression — see kmeans_fit's determinism note), then
    probe-2 retrieval, exact truth, and the per-query recall audit.
    fit_src: None fits on the full embeddings table; "sample" fits on the
    content-addressed top-{_IVF_FIT_SAMPLE} hash-sample (the sampled-fit
    twin's oracle — retrieval/truth/audit still run on the full corpus)."""
    c0_rows = ",\n        ".join(
        "({cell}, list_transform([{vals}], v -> CAST(v AS DOUBLE)))".format(
            cell=j + 1, vals=", ".join(str(v) for v in c)
        )
        for j, c in enumerate(_centroids())
    )
    src = "embeddings" if fit_src is None else "fitsample"
    sample_cte = (
        ""
        if fit_src is None
        else f"""fitsample AS (
      SELECT vec_id, embedding FROM embeddings
      ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_IVF_FIT_SAMPLE}
    ),"""
    )
    iters = ",".join(
        _kmeans_iter_sql(f"c{i}", f"c{i + 1}", src=src) for i in range(3)
    )
    return f"""
    WITH {sample_cte}c0 AS (
      SELECT * FROM (VALUES
        {c0_rows}
      ) AS t(cell, cvec)
    ),{iters},
    rk AS (
      SELECT e.vec_id, c.cell,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY coalesce({_cos_sql('e.embedding', 'c.cvec')}, -2.0) DESC,
                        c.cell ASC) AS rn
      FROM embeddings e CROSS JOIN c3 c
    ),
    celled AS (
      SELECT e.vec_id, e.embedding, a.cell AS cell, b.cell AS cell2
      FROM embeddings e
      JOIN rk a ON a.vec_id = e.vec_id AND a.rn = 1
      JOIN rk b ON b.vec_id = e.vec_id AND b.rn = 2
    ),
    q AS (SELECT vec_id AS qid, embedding AS qv, cell AS qcell, cell2 AS qcell2
          FROM celled WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             {_cos6_sql('q.qv', 'c.embedding')} AS cos_sim
      FROM q JOIN celled c
        ON (c.cell = q.qcell OR c.cell = q.qcell2) AND c.vec_id <> q.qid
    ),
    ivf AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, nid) AS rn
        FROM scored) WHERE rn <= {_KNN_K}
    ),
    exact_scored AS (
      SELECT q.qid, e.vec_id AS nid,
             {_cos6_sql('q.qv', 'e.embedding')} AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ),
    exact AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, nid) AS rn
        FROM exact_scored) WHERE rn <= {_KNN_K}
    ),
    occupancy AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_in_cell
      FROM celled GROUP BY cell
    ),
    hits AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_found
      FROM exact t LEFT JOIN ivf i ON i.qid = t.qid AND i.nid = t.nid
      GROUP BY t.qid
    ),
    nret AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_ret
             FROM ivf GROUP BY qid)
    SELECT q.qid,
           CAST(coalesce(o1.n_in_cell, 0) + coalesce(o2.n_in_cell, 0) - 1
                AS BIGINT) AS n_cand,
           CAST(coalesce(nret.n_ret, 0) AS BIGINT) AS n_ret,
           CAST(coalesce(hits.n_true, 0) AS BIGINT) AS n_true,
           CAST(coalesce(hits.n_found, 0) AS BIGINT) AS n_found,
           CAST(coalesce(hits.n_found, 0) * 1000000
                // greatest(coalesce(hits.n_true, 0), 1) AS BIGINT)
             AS recall_ppm
    FROM q
    LEFT JOIN occupancy o1 ON o1.cell = q.qcell
    LEFT JOIN occupancy o2 ON o2.cell = q.qcell2
    LEFT JOIN nret ON nret.qid = q.qid
    LEFT JOIN hits ON hits.qid = q.qid
    ORDER BY q.qid
    """


# Bounded memo for materialized IVF cell assignments (ADVICE r8): keys are
# (applicationId, sf_dir, fit-kind). 6 = the legitimate working set — THREE
# fit kinds share this LRU since late r9 (sampled + fixed from the registry
# at bench warmup + measured dirs, plus the full-fit exactness pin's
# fixture dirs in one pytest session); at 4, a sweep touching sampled and
# fixed at two dirs already filled every slot and any extra dir evicted a
# still-useful cell table.
from onebrc_spark.operators.memo import PersistedLRU, short_plan_twin  # noqa: E402

_IVF_CELLED_CACHE = PersistedLRU(maxsize=6)


def clear_ivf_cache() -> None:
    """Release every memoized cell assignment (bench/test hook)."""
    _IVF_CELLED_CACHE.clear()


def _memoized_celled(
    cache_key: tuple | None, build, small: bool = False
) -> DataFrame:
    """Materialize-and-memoize a cell-assignment frame: the persisted,
    counted cell table IS the IVF index build. One shared error path for
    every fit kind (fixed/trained/sampled): a failed or cancelled count
    unpersists the fresh handle instead of stranding it (the ADVICE r8
    leak class); success LRU-puts under cache_key. cache_key=None builds
    un-memoized (the exactness-pin path). `small` gates the short-plan
    twin (see _celled_short_plan)."""
    celled = _IVF_CELLED_CACHE.get(cache_key) if cache_key is not None else None
    if celled is not None:
        return _celled_short_plan(celled, small)
    celled = build().persist()
    try:
        celled.count()
    except BaseException:
        celled.unpersist()
        raise
    if cache_key is not None:
        _IVF_CELLED_CACHE.put(cache_key, celled)
        return _celled_short_plan(celled, small)
    return celled


def _celled_short_plan(celled: DataFrame, small: bool = True) -> DataFrame:
    """Short-plan twin of a memoized cell table (r13 optimization round,
    guide §1.2 step 2 / §7.3 'very large plans'): the celled frame's
    logical plan embeds the K×dim inline-literal cosine array, and every
    downstream operation of the audit assembly (7 joins, ~13 selects, two
    windows) re-analyzes that whole tree — measured 2.18 s of driver-side
    py4j/analysis per build at sf0.01, dropping to 0.85 s when consumers
    see a LogicalRDD instead.

    SIZE-GATED since r14 (VERDICT r13 #2, ADVICE r13): the celled table
    has one row per embedding — corpus-sized at scale — so the twin's
    second non-replicated copy and localCheckpoint's no-recompute failure
    mode are only taken when the source input is small (catalog.
    small_for_twin over the embeddings scan's size hint); above the gate
    (or when the size is unknown) consumers get the persisted original,
    whose re-analysis cost is fixed and amortized at scale. Mechanics and
    lifecycle live in memo.short_plan_twin; gate pinned in
    tests/test_memo.py."""
    return short_plan_twin(celled, small)


def _ivf_probe2_audit(
    e: DataFrame, cents: list[list[float]], cache_key: tuple | None = None
) -> DataFrame:
    """Probe-2 IVF retrieval + exact truth + per-query recall audit against
    a fitted centroid table — the shared back half of sim_ann_ivf_trained
    and sim_ann_ivf_sampled (which differ only in the corpus the quantizer
    was FIT on; retrieval always runs on the full corpus).

    cache_key ((applicationId, sf_dir, fit-kind) from the callers) memoizes
    the materialized cell assignment in a bounded PersistedLRU — ADVICE r8:
    the r8 form localCheckpointed the assignment per CALL and never
    released it, so repeated builds (timed bench sweeps) accumulated
    checkpointed RDDs until driver GC. The memo bounds live copies AND
    makes rebuilds a cache hit; eviction unpersists safely because persist
    (unlike localCheckpoint) keeps lineage, so a stale evicted handle can
    recompute instead of crashing."""
    # coalesce(cos, -2) totalizes the argmax for zero-norm vectors (same
    # sentinel as kmeans_fit — matches the oracle's row_number tie-break:
    # cell 1, then cell 2). One F.expr for all 8 cosines (r13): the
    # CAST('repr' AS DOUBLE) literals are bit-identical to the former
    # lit(float64-ndarray) form (shortest-repr round trip, correctly
    # rounded parse) and the whole 8×dim tree costs one JVM parse instead
    # of ~1,200 py4j round trips per build.
    cs = F.expr(
        "array("
        + ", ".join(
            f"coalesce({_cosine_sqlx('embedding', sql_double_array(c))}, -2.0D)"
            for c in cents
        )
        + ")"
    )
    # Probe cells via ONE fold (r8): the previous array_position-of-max +
    # masked-second-position form referenced the `cs` expression six times,
    # and Catalyst's project collapse re-inlined all 8 dim-64 cosine folds
    # into every reference — the minhash_signature codegen-blowup class,
    # ~6× the expression tree for identical output. _top2_cells keeps the
    # same tie semantics (first maximal cell, then first of the remaining
    # maxima — for a degenerate all-(-2) row that's cell 1 then cell 2,
    # exactly the oracle's rn=1/rn=2) while referencing cs twice total.
    t2 = _top2_cells(cs)
    # The cell assignment is consumed by THREE plan branches (the query
    # set, the probe join, the occupancy census) — without a barrier each
    # branch re-evaluates every cosine over the whole corpus (3× scans,
    # and 3× the giant codegen). _memoized_celled persists + counts the
    # assignment once; that is exactly what an IVF *index build* is — the
    # persisted cell table the retrieval side reads. Build-time execution
    # is the storage-op precedent (see evt_stateful_running_stats's note).
    celled = _memoized_celled(
        cache_key,
        lambda: e.select(
            "vec_id",
            "embedding",
            t2["b_i"].alias("cell"),
            t2["s_i"].alias("cell2"),
        ),
        small=small_for_twin(src_bytes_hint(e)),
    )
    q = celled.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("cell").alias("qcell"),
        F.col("cell2").alias("qcell2"),
    )
    scored = celled.join(
        F.broadcast(q),
        ((F.col("cell") == F.col("qcell")) | (F.col("cell") == F.col("qcell2")))
        & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        F.col("vec_id").alias("nid"),
        cos_round6(cosine("qv", "embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    ivf = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("qid", "nid")
    )
    # Exact reference inside the same plan: brute-force top-k per query.
    exact_scored = (
        e.crossJoin(F.broadcast(q.select("qid", "qv")))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cos_round6(cosine("qv", "embedding")).alias("cos_sim"),
        )
    )
    exact = (
        exact_scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("qid", "nid")
    )
    # Per-query audit columns, all exact integers. The candidate count is
    # derived from an INDEPENDENT path — the per-cell occupancy census over
    # `celled`, NOT the `scored` join that produced ivf — so a bug in the
    # probe join (wrong cell column, broken condition) diverges from the
    # census and the driver's hash catches it; deriving both sides from
    # `scored` would make n_ret = min(k, n_cand) true by construction.
    cell_counts = celled.groupBy("cell").agg(F.count(F.lit(1)).alias("n_in_cell"))
    c1 = cell_counts.select(
        F.col("cell").alias("qcell"), F.col("n_in_cell").alias("n1")
    )
    c2 = cell_counts.select(
        F.col("cell").alias("qcell2"), F.col("n_in_cell").alias("n2")
    )
    expected = (
        q.join(F.broadcast(c1), "qcell", "left")
        .join(F.broadcast(c2), "qcell2", "left")
        .select(
            "qid",
            # the query itself sits in qcell and is excluded from retrieval
            (F.coalesce("n1", F.lit(0)) + F.coalesce("n2", F.lit(0)) - 1)
            .cast("long")
            .alias("n_cand"),
        )
    )
    nret = ivf.groupBy("qid").agg(F.count(F.lit(1)).cast("long").alias("n_ret"))
    hits = (
        exact.join(
            F.broadcast(ivf.withColumn("found", F.lit(1))), ["qid", "nid"], "left"
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.coalesce(F.col("found"), F.lit(0))).cast("long").alias("n_found"),
        )
    )
    # q / expected / nret / hits are all |Q|-bounded (vec_id < _N_QUERIES),
    # so the assembly joins broadcast at any corpus size.
    return (
        q.select("qid")
        .join(F.broadcast(expected), "qid", "left")
        .join(F.broadcast(nret), "qid", "left")
        .join(F.broadcast(hits), "qid", "left")
        .select(
            "qid",
            "n_cand",
            F.coalesce("n_ret", F.lit(0)).cast("long").alias("n_ret"),
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            F.expr(
                "CAST(coalesce(n_found, 0) * 1000000"
                " div greatest(coalesce(n_true, 0), 1) AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("qid")
    )


def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer and multi-probe search:
    3 Lloyd iterations fit the centroid table, each query probes its TWO
    nearest cells (the production lever for IVF recall — probe-1 recall@5
    is 0.26-0.42 on this corpus, probe-2 is 0.42-0.58), top-5 within the
    probed cells.

    Oracle strategy (round 6 — VERDICT item 5, replacing the pinned-TRUE
    booleans that were the registry's weakest oracle): the fitted
    centroids are data-dependent, but the fit itself is a PURE FUNCTION
    of the data — every step is exact integer math (floor(x·1e9+0.5)
    coordinate sums) or a fixed-order IEEE expression (the cosine fold) —
    so the DuckDB oracle REPLAYS the whole 3-iteration Lloyd fit as
    unrolled SQL CTEs (_kmeans_iter_sql), then the probe-2 retrieval,
    the exact brute-force truth, and the audit. Output is per-query
    exact integers, every column value-bearing and hash-verified:
      n_cand      candidates in the two probed cells (independent
                  occupancy census, minus the query itself),
      n_ret       rows the IVF retrieval returned (contract:
                  n_ret = min(k, n_cand) — the old ivf_complete boolean,
                  now checkable per-row by the driver),
      n_true      exact top-k truth size,
      n_found     |ivf ∩ exact|,
      recall_ppm  exact-integer recall@5 (X3d's idiom).
    Determinism and inertia descent of the fit are pinned in
    tests/test_properties.py.

    This full-corpus fit is the EXACTNESS reference; the production-shaped
    fit is sim_ann_ivf_sampled (VERDICT r7 #2) — at 100 TB, 3 Lloyd passes
    over the whole corpus are 3 full shuffles spent fitting a k×dim model
    a fixed-size sample estimates just as well.

    DEREGISTERED in r9 (VERDICT r8 #2): with the sampled twin covering the
    production shape, the full fit's only remaining role is exactness
    evidence — which tests/test_ivf_trained_pin.py provides by running
    this function against the SAME unrolled DuckDB oracle
    (_ivf_trained_sql()) on small fixtures, instead of every registry
    sweep paying the 3-pass fit (the r8 fullsweep's worst entry, 8.6 s at
    sf0.01)."""
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    return _ivf_probe2_audit(
        e,
        kmeans_fit(e),
        cache_key=(spark.sparkContext.applicationId, sf_dir, "trained"),
    )


# Fit-sample size for the sampled-fit IVF twin: fixed m, content-addressed
# (md5 top-m — the ml_fixed_size_sample idiom), so the fit input is the
# same m vectors every run, on every engine, under any partitioning: the
# sampled fit stays a pure function of the data and the DuckDB oracle can
# replay it. k-means needs O(k·dim) effective samples; m=128 on k=8 cells
# is 16 per cell — and at 100 TB m stays 128 (or any fixed budget): the
# top-m heap is the ONLY thing that grows work (per-partition heaps, a
# P·m-row driver merge, no corpus shuffle at all).
_IVF_FIT_SAMPLE = 128


@query(
    "sim_ann_ivf_sampled",
    oracle=_ivf_trained_sql(fit_src="sample"),
    survey_ref="X3 (IVF quantizer fit on a content-addressed hash-sample)",
)
def sim_ann_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_ivf_trained's production twin: the SAME 3-iteration Lloyd
    fit, run on a fixed-size content-addressed hash-sample (top-128 by
    md5('ivf:' || vec_id) — deterministic, engine-portable, exactly-m) of
    the corpus instead of the whole corpus; probe-2 retrieval, exact truth
    and the recall audit still run on the FULL corpus, so the output
    columns measure what sampling the fit actually costs in recall.

    This closes the round-7 scale gap: the full fit posexplodes every
    embedding 3× (the 12.5 s fullsweep outlier at sf0.01; 3 full-corpus
    shuffles at 100 TB), while the sampled fit's corpus-sized work is ONE
    TakeOrderedAndProject — per-partition m-heaps, a P·m-row driver merge,
    no shuffle — after which each Lloyd pass touches m=128 rows. The
    oracle replays the identical sample (same md5 ordering) and the
    identical fit, so the trained-then-retrieved output is hash-verified
    end to end, same columns as sim_ann_ivf_trained."""
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    h = F.md5(F.concat(F.lit("ivf:"), F.col("vec_id").cast("string")))
    # collect the fixed-m sample and fit DRIVER-LOCALLY (r9): the fit
    # input is m=128 rows by construction at ANY corpus size, and the fit
    # is a pure fixed-order IEEE function (that is what lets DuckDB replay
    # it), so Spark's only jobs here are the TakeOrdered sample and the
    # retrieval — the 3 distributed Lloyd passes were ~4 s of per-iteration
    # plan/job overhead spent on 128 rows (the r9 fullsweep's worst
    # residual entry). _kmeans_fit_local is pinned bit-identical to the
    # distributed kmeans_fit in tests/test_properties.py.
    rows = (
        e.select("vec_id", "embedding", h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(_IVF_FIT_SAMPLE)
        .select("embedding")
        .collect()
    )
    cents = _kmeans_fit_local([r["embedding"] for r in rows])
    return _ivf_probe2_audit(
        e,
        cents,
        cache_key=(spark.sparkContext.applicationId, sf_dir, "sampled"),
    )


# --- X3b: embedding quantization (int8) -------------------------------------


@query(
    "sim_embedding_quantize",
    oracle="""
    WITH m AS (
      SELECT vec_id, label, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS maxabs
      FROM embeddings
    ), q AS (
      SELECT vec_id, label,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)
                        - round(CAST(x AS DOUBLE) * (127.0 / maxabs))
                          / (127.0 / maxabs)))) AS max_abs_err,
             list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / maxabs)) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * (127.0 / maxabs)) AS BIGINT)))
               AS sum_qsq
      FROM m WHERE maxabs > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(sum_qsq) AS BIGINT) AS total_qsq,
           max(max_abs_err) AS max_abs_err
    FROM q GROUP BY label ORDER BY label
    """,
    survey_ref="X3b (int8 symmetric quantization + reconstruction error)",
)
def sim_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage/
    serving form of an ANN index (4× smaller than float32, 127-level grid):
    per-vector scale = 127 / max|v|, q_i = round(v_i · scale), plus the
    audit a pipeline runs before committing to a quantization scheme:
    worst-case reconstruction error and the integer energy of the quantized
    codes.

    Determinism: every per-element value is either exact integer arithmetic
    (q_i, q_i², their sums — exact in any order) or a fixed-expression
    double (max_abs_err via order-insensitive max), so the output is
    bit-identical across engines with NO rounding — the oracle replays the
    identical expression tree over the same parquet floats.

    Scale notes (100 TB): narrow per-row map (JVM codegen, no Python, no
    shuffle) + one map-side-combinable aggregation on `label`; the
    quantized codes would be written columnar as `array<tinyint>` with
    per-vector scale, halving ANN memory traffic."""
    e = load_table(spark, sf_dir, "embeddings")
    x_d = lambda x: x.cast("double")  # noqa: E731
    maxabs = F.aggregate(
        "embedding", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x_d(x)))
    )
    scale = F.lit(127.0) / F.col("maxabs")
    q_of = lambda x: half_away_long(x_d(x) * scale)  # noqa: E731
    per_vec = (
        e.withColumn("maxabs", maxabs)
        .filter(F.col("maxabs") > 0)
        .select(
            "label",
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, x: F.greatest(a, F.abs(x_d(x) - q_of(x) / scale)),
            ).alias("max_abs_err"),
            F.aggregate(
                "embedding",
                F.lit(0).cast("long"),
                lambda a, x: a + q_of(x) * q_of(x),
            ).alias("sum_qsq"),
        )
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("sum_qsq").cast("long").alias("total_qsq"),
            F.max("max_abs_err").alias("max_abs_err"),
        )
        .orderBy("label")
    )


# --- X3c: semantic pruning (SemDeDup-style centroid dedup) ------------------

# Quantization scale for the cross-engine integer-exact cosine: float32
# embedding values promoted to double and scaled by 1e6 are EXACT in double
# (24-bit mantissa + 20-bit scale < 53 bits), so round() sees the identical
# value in both engines and every downstream sum is exact integer math.
_SEMPRUNE_SCALE = 1_000_000
_SEMPRUNE_KEEP = 0.8  # keep the 80% most central vectors per cluster


@query(
    "sim_semantic_prune",
    oracle=f"""
    WITH quant AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_SEMPRUNE_SCALE}) AS BIGINT))
               AS q
      FROM embeddings
    ), exploded AS (
      SELECT vec_id, label,
             unnest(range(1, len(q) + 1)) AS pos, unnest(q) AS v
      FROM quant
    ), centroid AS (
      SELECT label, pos, CAST(sum(v) AS BIGINT) AS c
      FROM exploded GROUP BY label, pos
    ), cnorm AS (
      SELECT label, CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS nc
      FROM centroid GROUP BY label
    ), pervec AS (
      SELECT e.label, e.vec_id,
             CAST(sum(CAST(e.v AS HUGEINT) * c.c) AS DOUBLE) AS dot,
             CAST(CAST(sum(e.v * e.v) AS BIGINT) AS DOUBLE) AS nv
      FROM exploded e JOIN centroid c ON c.label = e.label AND c.pos = e.pos
      GROUP BY e.label, e.vec_id
    ), scored AS (
      SELECT p.label, p.vec_id, p.dot / (sqrt(p.nv) * sqrt(n.nc)) AS cos_c,
             row_number() OVER (
               PARTITION BY p.label
               ORDER BY p.dot / (sqrt(p.nv) * sqrt(n.nc)) DESC, p.vec_id
             ) AS rn,
             count(*) OVER (PARTITION BY p.label) AS n_vecs
      FROM pervec p JOIN cnorm n ON n.label = p.label
    )
    SELECT label,
           CAST(max(n_vecs) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN rn <= ceil({_SEMPRUNE_KEEP} * n_vecs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn > ceil({_SEMPRUNE_KEEP} * n_vecs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           floor(min(CASE WHEN rn <= ceil({_SEMPRUNE_KEEP} * n_vecs)
                          THEN cos_c END) * 1000000 + 0.5) / 1000000
             AS min_kept_cos
    FROM scored GROUP BY label ORDER BY label
    """,
    survey_ref="X3c (semantic pruning: per-cluster centroid-distance dedup)",
)
def sim_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: within each embedding cluster
    (`label` plays the k-means cluster id), rank vectors by cosine to the
    cluster centroid and keep the most central 80% (_SEMPRUNE_KEEP) — the
    standard recipe for shrinking a training corpus with minimal semantic
    loss (Abbas et al., SemDeDup). Returns the per-cluster manifest.

    Cross-engine exactness: centroids are aggregated over QUANTIZED integer
    embeddings (×1e6, exact in double — see _SEMPRUNE_SCALE), so the
    centroid sums, dots, and norms are exact integers regardless of Spark
    partition order, and the cosine is the same double in both engines;
    (cos, vec_id) ranking is a total order, so kept/pruned counts are
    deterministic — no float-summation-order hazard.

    Scale (100 TB): posexplode ships (label, pos, v) longs — 64 rows per
    vector, no text; the centroid table is (n_clusters × dim), broadcast
    back for scoring; ranking windows partition by cluster. Integer
    headroom (round-5 audit — the earlier ~2e8 claim missed that the
    per-ELEMENT products c·c and v·c hit INT64 long before any widened
    SUM): every centroid-involving product now runs in decimal(38,0)
    (HUGEINT in DuckDB), so with |v| ≤ 5.3e5 and |c| ≤ 5.3e5·n the dot
    stays exact to n ≈ 5e24 members per cluster; nv is per-vector
    (≤ 64·(5.3e5)² ≈ 1.8e13) and safely long. The exact integers convert
    once to double for the cosine — correctly rounded, identical in both
    engines."""
    e = load_table(spark, sf_dir, "embeddings")
    quant = e.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: half_away_long(x.cast("double") * _SEMPRUNE_SCALE),
        ).alias("q"),
    )
    exploded = quant.select(
        "vec_id", "label", F.posexplode("q").alias("pos0", "v")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "v")
    centroid = exploded.groupBy("label", "pos").agg(
        F.sum("v").cast("long").alias("c")
    )
    cnorm = centroid.groupBy("label").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)"))
        .cast("double")
        .alias("nc")
    )
    pervec = (
        exploded.join(F.broadcast(centroid), ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(
            # v·c widened to decimal(38,0) (HUGEINT in the oracle): the
            # INT64 product c·v wraps (Spark) / aborts (DuckDB) once a
            # correlated cluster pushes |c| past ~2^63/|v| — at ~3e7
            # members, far inside the 100 TB design target. nv stays long:
            # it is per-vector (≤ 64·(5.3e5)² ≈ 1.8e13, overflow-free).
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("c"))
            .cast("double")
            .alias("dot"),
            F.sum(F.col("v") * F.col("v")).cast("long").cast("double").alias("nv"),
        )
    )
    # ANSI-0/0 guard (same class as cosine()): a vector whose quantized
    # coordinates are all zero has nv = 0 — NULL cosine in both engines
    # (DuckDB x/0 is NULL), never a DIVIDE_BY_ZERO job kill.
    _den = F.sqrt(F.col("nv")) * F.sqrt(F.col("nc"))
    cos_c = F.col("dot") / F.when(_den == 0.0, F.lit(None)).otherwise(_den)
    scored = (
        pervec.join(F.broadcast(cnorm), "label")
        .withColumn("cos_c", cos_c)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.col("cos_c").desc(), F.col("vec_id")
                )
            ),
        )
        .withColumn("n_vecs", F.count(F.lit(1)).over(Window.partitionBy("label")))
    )
    kept = F.col("rn") <= F.ceil(F.lit(_SEMPRUNE_KEEP) * F.col("n_vecs"))
    return (
        scored.groupBy("label")
        .agg(
            F.max("n_vecs").cast("long").alias("n_vecs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("n_pruned"),
            cos_round6(F.min(F.when(kept, F.col("cos_c")))).alias("min_kept_cos"),
        )
        .orderBy("label")
    )


# Recall-audit parameters: every vec_id ≡ 0 (mod _AUDIT_Q_MOD) is an audit
# query (~3% of the corpus); ground truth is every neighbor at cosine ≥
# _AUDIT_COS_MIN. The audited index is the SAME banded generator tuned to
# the similarity regime being audited: (bands, rows) sets the LSH s-curve
# midpoint at ~(1/bands)^(1/rows) in sign-agreement space — 4×3 puts it at
# cos ≈ 0.40, inside this corpus's neighbor band [0.22, 0.6], so measured
# recall is mid-range (real hits AND real misses; auditing the 4×12
# near-dup config here would read 0: its midpoint sits at cos ≈ 0.9,
# above any pair this synthetic corpus contains). That is exactly the
# production tuning loop: pick (bands, rows) from the target τ, then run
# this audit to confirm the curve before serving.
_AUDIT_Q_MOD = 29
_AUDIT_COS_MIN = 0.22
_AUDIT_BANDS = 4
_AUDIT_ROWS = 3
# Hard audit budget: only sampled ids below _AUDIT_Q_MOD * _AUDIT_BUDGET
# qualify, so |Q| ≤ _AUDIT_BUDGET at ANY corpus size — the fixed-cost
# contract that makes the forced query-side broadcasts legal (a %-only
# sample grows linearly with N and would eventually blow the 8 GB
# broadcast ceiling). Deterministic and content-independent; at the test
# SFs every sampled id is inside the budget, so results are unchanged.
_AUDIT_BUDGET = 256


def _recall_audit_sql() -> str:
    planes = banded_hyperplanes(_AUDIT_BANDS, _AUDIT_ROWS)
    corpus_bands = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {band} AS band, "
        f"{_bucket_sql_for('embedding', planes[band])} AS bucket FROM embeddings"
        for band in range(_AUDIT_BANDS)
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % {_AUDIT_Q_MOD} = 0
        AND vec_id < {_AUDIT_Q_MOD * _AUDIT_BUDGET}
    ), truth AS (
      SELECT q.qid, e.vec_id
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
      WHERE {_cos6_sql('q.qv', 'e.embedding')} >= {_AUDIT_COS_MIN}
    ), cbands AS (
      {corpus_bands}
    ), qbands AS (
      SELECT c.vec_id AS qid, c.band, c.bucket
      FROM cbands c JOIN q ON c.vec_id = q.qid
    ), cand AS (
      SELECT DISTINCT qb.qid, cb.vec_id
      FROM cbands cb JOIN qbands qb
        ON cb.band = qb.band AND cb.bucket = qb.bucket
      WHERE cb.vec_id <> qb.qid
    ), per AS (
      SELECT t.qid,
             CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_found
      FROM truth t LEFT JOIN cand c ON c.qid = t.qid AND c.vec_id = t.vec_id
      GROUP BY t.qid
    )
    SELECT q.qid,
           CAST(coalesce(p.n_true, 0) AS BIGINT) AS n_true,
           CAST(coalesce(p.n_found, 0) AS BIGINT) AS n_found,
           CAST(coalesce(p.n_found, 0) * 1000000
                // greatest(coalesce(p.n_true, 0), 1) AS BIGINT) AS recall_ppm
    FROM q LEFT JOIN per p ON p.qid = q.qid
    ORDER BY q.qid
    """


@query(
    "sim_ann_recall_audit",
    oracle=_recall_audit_sql(),
    survey_ref="X3 (ANN quality audit: measured banded-LSH recall vs exact truth)",
)
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the banded-LSH candidate generator against exact
    brute-force ground truth, per audit query — the quality gate a 100 TB
    ANN deployment runs on every index build. sim_lsh_candidate_stats
    prices the candidate JOIN; this query prices the candidate QUALITY:
    for each sampled query vector, how many of its true cosine-≥τ
    neighbors appear in its banded candidate set (recall as exact-integer
    ppm, the same order-independent idiom as dq_snapshot_drift).

    Scale: the corpus side never shuffles. The audit sample (~N/29
    vectors) broadcasts twice — once as raw vectors against the corpus
    scan for exact ground truth (BroadcastNestedLoopJoin strip: |Q|·N
    cosine folds, all map-side), once as banded buckets against the
    corpus band table for the candidate sets. The only shuffles touch
    query-keyed pairs (candidate dedup, per-query counts) — O(|Q|·k)
    rows. |Q| is capped by a HARD budget (_AUDIT_BUDGET, enforced in the
    sample predicate), so the whole audit is fixed-cost beyond the two
    corpus scans regardless of N — which is also what licenses the forced
    query-side broadcasts.

    Recall here is genuinely mid-range by design (the 4×3 s-curve midpoint
    sits inside the audited truth band — see the parameter comment above),
    so the oracle check is non-vacuous: hits and misses both exist and the
    engines must agree on exactly which neighbors the bands lose."""
    e = spread(load_table(spark, sf_dir, "embeddings"), spark, dense=True)
    q = e.filter(
        (F.col("vec_id") % _AUDIT_Q_MOD == 0)
        & (F.col("vec_id") < _AUDIT_Q_MOD * _AUDIT_BUDGET)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    truth = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cos_sim", cos_round6(cosine("qv", "embedding")))
        .filter(F.col("cos_sim") >= _AUDIT_COS_MIN)
        .select("qid", "vec_id")
    )
    cb = banded_lsh_buckets(e, _AUDIT_BANDS, _AUDIT_ROWS).select(
        "vec_id", "band", "bucket"
    )
    qb = banded_lsh_buckets(
        q.select(F.col("qid").alias("vec_id"), F.col("qv").alias("embedding")),
        _AUDIT_BANDS,
        _AUDIT_ROWS,
    ).select(F.col("vec_id").alias("qid"), "band", "bucket")
    cand = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
        .withColumn("found", F.lit(1))
    )
    # cand and per are query-keyed and bounded by the HARD audit budget
    # (|Q| ≤ _AUDIT_BUDGET enforced in the sample predicate above, so
    # |cand| ≤ |Q|·occupancy and |per| ≤ |Q|) — broadcasting them is
    # therefore safe at any corpus size.
    per = (
        truth.join(F.broadcast(cand), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.coalesce(F.col("found"), F.lit(0))).cast("long").alias("n_found"),
        )
    )
    return (
        q.select("qid")
        .join(F.broadcast(per), "qid", "left")
        .select(
            "qid",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            F.expr(
                "CAST(coalesce(n_found, 0) * 1000000"
                " div greatest(coalesce(n_true, 0), 1) AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("qid")
    )
