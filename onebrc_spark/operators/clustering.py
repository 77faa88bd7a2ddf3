"""Near-dup cluster resolution: pairs → connected components → survivors
(SURVEY §2.10 X1/X2 completion).

Pairwise near-dup detection (dedup.py) is only half of a production dedup
pipeline: pairs must be resolved into CLUSTERS (a~b, b~c ⇒ {a,b,c} is one
duplicate group) and each cluster collapsed to one canonical survivor —
otherwise chained duplicates survive pairwise removal. The reference has no
multi-document analysis at all (its one query is per-key aggregation,
`rust_1brc/src/main.rs:237-243`); this is extension surface for the LLM
curation path.

Algorithm (two paths behind one API):

- **Min-label propagation** (fast path): label(v) ← min(label(v), min over
  neighbors) until fixpoint. One shuffle join + one aggregation per round;
  rounds needed = graph diameter. Near-dup clusters are overwhelmingly
  star- or clique-shaped (diameter ≤ ~3), so this settles in 2-4 rounds.
- **Alternating large-star / small-star** (Kiveris et al., "Connected
  Components in MapReduce and Beyond"): contracts the edge set toward a
  forest of stars centered at each component's min id in O(log n) rounds
  regardless of diameter — the scale path for adversarial chain graphs
  where propagation would need diameter rounds. Candidate convergence
  (stable edge count + endpoint sums) is confirmed by a rigorous one-job
  audit on the ORIGINAL edge set (every edge's endpoints share a label, and
  the shared label is the component min by construction), so a heuristic
  early-stop can never return wrong labels.

`algorithm="auto"` (default) runs propagation for a few rounds and
escalates to star contraction if the graph turns out deep — so typical
workloads pay the cheap path and pathological ones stay O(log n) instead of
raising.

Driver-sync discipline: every round issues exactly ONE action — the
lineage-truncating checkpoint is lazy (eager=False) so the convergence
aggregate materializes it in the same job, instead of the
checkpoint-job + collect-job pair per round that round-3's bench flagged
(2 driver syncs/round ≈ half the operator's wall-clock at sf0.1).

Scale: the propagated state is (id, label) longs — the text never moves.
Lineage is truncated every round with memo.checkpoint so the plan does not
grow with iterations (on a multi-tenant cluster with executor preemption,
switch memo.checkpoint's storage kind to a reliable checkpoint on
HDFS/object storage).

Oracle: DuckDB recursive CTE computing min-reachable-id per node over the
SAME MinHash edge set (dedup.minhash_pairs_sql) — exact transitive closure,
viable at sf scales because components are tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from onebrc_spark.operators.dedup import minhash_pairs, minhash_pairs_sql
from onebrc_spark.operators.memo import PersistedLRU, checkpoint
from onebrc_spark.operators.mlprep import _hash_bucket, hash_bucket_sql
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table

# the ONE md5-bucket idiom (mlprep) applied to the cluster group key —
# oracle and Spark plan can no longer drift apart
_BUCKET_GK_SQL = hash_bucket_sql("gk")

_MAX_ITERS = 25
# auto mode: propagation rounds to try before concluding the graph is deep
# and escalating to O(log n) star contraction. Near-dup graphs converge in
# 2-4; paying ≤6 cheap rounds before escalation keeps the common case at
# one-shuffle-per-round while bounding the adversarial case.
_AUTO_ESCALATE_ROUNDS = 6


def _label_sum(df: DataFrame) -> tuple:
    """One-action convergence probe: (row count, Σlabel). Materializes any
    pending lazy checkpoint in the same job."""
    row = df.agg(
        F.count(F.lit(1)), F.sum(F.col("label").cast("decimal(38,0)"))
    ).collect()[0]
    return (row[0], row[1])


def _propagate_labels(
    bidir: DataFrame, cur: DataFrame, max_rounds: int, prev_sum: tuple | None = None
) -> DataFrame | None:
    """Min-label propagation from state `cur` (id, label); returns the
    fixpoint or None if not reached within max_rounds.

    Labels only ever decrease, so (count, Σlabel) is a strictly monotone
    progress measure over a fixed node set: unchanged == fixpoint. The
    checkpoint is LAZY so the probe aggregate both truncates lineage
    and checks convergence in one job per round.

    `prev_sum` is the probe of the caller-supplied state (the fused
    round-1 aggregate — see connected_components), so the loop's first
    probe can already detect its fixpoint; with the default None the first
    round can never fire (the r14 no-initial-probe argument: round 1
    cannot be a fixpoint on a non-empty edge set, since every edge (a,b),
    a<b strictly lowers b's label)."""
    for _ in range(max_rounds):
        neighbor_min = (
            bidir.join(
                cur.select(F.col("id").alias("src"), F.col("label").alias("src_label")),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("src_label").alias("nmin"))
            .select(F.col("dst").alias("id"), "nmin")
        )
        nxt = checkpoint(
            cur.join(neighbor_min, "id", "left").select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            ),
            eager=False,
        )
        cur_sum = _label_sum(nxt)
        cur = nxt
        # an EMPTY state is trivially a fixpoint (keeps the empty-edge-set
        # + max_rounds=1 case converging now that round 0 is unprobed)
        if cur_sum == prev_sum or cur_sum[0] == 0:
            return cur
        prev_sum = cur_sum
    return None


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node attaches its strictly-LARGER neighbors to the
    minimum of its closed neighborhood. Output edges (v, m) with v > u ≥ m.
    One shuffle (window over src) + one distinct."""
    b = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        b.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges large→small, then every node attaches all
    its smaller neighbors (and itself) to its minimum neighbor. Output
    edges point at per-neighborhood minima; alternating with large-star
    contracts components to min-centered stars in O(log n) rounds."""
    o = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
    )
    withm = o.withColumn("m", F.min("dst").over(Window.partitionBy("src")))
    attached = withm.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edge = withm.select("src", F.col("m").alias("dst"))
    return (
        attached.unionAll(self_edge)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_fixpoint_labels(e: DataFrame, bidir: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star contraction of edge set `e`, with
    labels audited against the ORIGINAL bidirectional edge set `bidir`.

    Candidate convergence = stable (edge count, Σsrc, Σdst) across one
    iteration — cheap but heuristic. Every candidate is then VERIFIED with
    one join job on `bidir`: labels are correct iff both endpoints of every
    original edge share a label (uniformity ⇒ the shared label is the
    component min, because label(u) = least(u, attached minima) pins the
    component's min node to itself). A false candidate fails the audit and
    iteration continues, so early-stop can never return wrong labels."""
    nodes = bidir.select(F.col("src").alias("id")).distinct()
    prev = None
    for _ in range(max_iters):
        e = checkpoint(_small_star(_large_star(e)), eager=False)
        row = e.agg(
            F.count(F.lit(1)),
            F.sum(F.col("src").cast("decimal(38,0)")),
            F.sum(F.col("dst").cast("decimal(38,0)")),
        ).collect()[0]
        sig = (row[0], row[1], row[2])
        if sig == prev:
            att = e.groupBy("src").agg(F.min("dst").alias("m"))
            labels = nodes.join(
                att.select(F.col("src").alias("id"), "m"), "id", "left"
            ).select(
                "id",
                F.least(F.coalesce("m", F.col("id")), F.col("id")).alias("label"),
            )
            la = labels.select(F.col("id").alias("src"), F.col("label").alias("la"))
            lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
            consistent = (
                bidir.join(la, "src")
                .join(lb, "dst")
                .filter(F.col("la") != F.col("lb"))
                .isEmpty()
            )
            if consistent:
                return labels
        prev = sig
    raise RuntimeError(
        f"connected_components: star contraction did not converge within "
        f"{max_iters} rounds"
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b",
    max_iters: int = _MAX_ITERS, algorithm: str = "auto",
) -> DataFrame:
    """(id, cluster_id) for every node appearing in `edges`, where
    cluster_id = min node id of the node's connected component.

    algorithm: "label" = min-label propagation (rounds = diameter, raises
    past max_iters); "star" = large-star/small-star contraction (O(log n)
    rounds, any diameter); "auto" (default) = propagation first, escalating
    to star if the graph turns out deeper than _AUTO_ESCALATE_ROUNDS (6)
    rounds (capped at max_iters)."""
    if algorithm not in ("auto", "label", "star"):
        raise ValueError(
            f"connected_components: unknown algorithm {algorithm!r} "
            "(expected 'auto', 'label', or 'star')"
        )
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # LAZY checkpoint (r14): materializes inside the first round's job
    # instead of paying a separate up-front materialization action; every
    # later round still reads the stored edge blocks, not the lineage
    bidir = checkpoint(
        fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
        eager=False,
    )

    def _out(labeled: DataFrame) -> DataFrame:
        return labeled.select(F.col("id"), F.col("label").alias("cluster_id"))

    if algorithm == "star":
        return _out(_star_fixpoint_labels(bidir, bidir, max_iters))

    # FUSED round 1 (r14, VERDICT r13 #4): propagation round 1 from the
    # identity labeling is label(v) = least(v, min neighbor of v) — one
    # aggregation over bidir. The unfused form paid a distinct() for the
    # node set, a checkpoint of it, and round 1's join; this is one
    # groupBy producing the identical (id, label) state (bidir carries
    # both directions, so min(dst) per src IS the min neighbor, and
    # distinct src IS the node set). Its probe seeds prev_sum so fixpoint
    # detection fires at exactly the same round as before.
    cur = checkpoint(
        bidir.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("id"), "label"),
        eager=False,
    )
    first_sum = _label_sum(cur)
    if first_sum[0] == 0:
        return _out(cur)  # empty edge set: no nodes, trivially converged
    budget = (
        max_iters if algorithm == "label" else min(_AUTO_ESCALATE_ROUNDS, max_iters)
    )
    fixed = _propagate_labels(bidir, cur, budget - 1, first_sum)
    if fixed is not None:
        return _out(fixed)
    if algorithm == "label":
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_iters} rounds "
            "(pathological chain graph — use algorithm='star' or 'auto')"
        )
    return _out(_star_fixpoint_labels(bidir, bidir, max_iters))


# Memoized (id, cluster_id) labels per (application, sf_dir): FOUR
# registered queries consume the resolved components of the SAME memoized
# pair set (components, survivors, cluster-safe split, best-survivor), and
# the resolution is the expensive part — an iterative multi-job loop with
# one driver sync per round. Without this memo a full drive pays it 4×.
# Same lifecycle discipline as dedup._MINHASH_PAIRS_CACHE; bench.py clears
# this cache before timing dedup_cluster_components so the resolution cost
# stays honestly measured. Bounded to 2 live entries (VERDICT r6 #7) —
# the warmup + measured directories; a third sf_dir evicts and releases
# the persisted labels with the checkpoints their lineage reads.
_COMPONENTS_CACHE = PersistedLRU(maxsize=2)


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized resolved component labels (id, cluster_id) over the
    MinHash near-dup pair set."""
    return _COMPONENTS_CACHE.get_or_build(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: connected_components(
            minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )


def clear_components_cache() -> None:
    """Release every memoized label set (bench hook — see cache note)."""
    _COMPONENTS_CACHE.clear()


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE edges AS ({minhash_pairs_sql()}),
    nodes AS (
      SELECT doc_a AS id FROM edges UNION SELECT doc_b FROM edges
    ), bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM edges
    ), reach(id, root) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT b.dst AS id, r.root
      FROM reach r JOIN bidir b ON b.src = r.id
    )
    SELECT id AS doc_id, min(root) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
    survey_ref="X1,X2 (near-dup cluster resolution: connected components)",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve MinHash near-dup PAIRS into duplicate CLUSTERS: every doc
    that has at least one near-dup, labeled with the min doc_id of its
    connected component. Catches transitive duplicates (a~b, b~c ⇒ one
    3-doc cluster) that pairwise dedup misses. Oracle = exact transitive
    closure via DuckDB recursive CTE over the identical edge set."""
    return (
        cluster_labels(spark, sf_dir)
        .select(F.col("id").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


@query(
    "dedup_cluster_survivors",
    oracle=f"""
    WITH RECURSIVE edges AS ({minhash_pairs_sql()}),
    nodes AS (
      SELECT doc_a AS id FROM edges UNION SELECT doc_b FROM edges
    ), bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM edges
    ), reach(id, root) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT b.dst AS id, r.root
      FROM reach r JOIN bidir b ON b.src = r.id
    ), comp AS (
      SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id
    ), removed AS (
      SELECT doc_id FROM comp WHERE doc_id <> cluster_id
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(sum(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    survey_ref="X1,X2 (cluster-canonical dedup: keep min doc_id per cluster)",
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup accounting: collapse each duplicate cluster
    to its canonical member (min doc_id = the cluster label itself) and
    report per-source kept/removed counts. The corpus-sized side is ONE
    broadcast join against the removed set (cluster members are a tiny
    fraction of the corpus), so at 100 TB the text still never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    comp = cluster_labels(spark, sf_dir)
    removed = (
        comp.filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"), F.lit(1).alias("is_removed"))
    )
    return (
        docs.join(F.broadcast(removed), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_removed", F.lit(0))).cast("long").alias("n_removed"),
            F.sum(F.when(F.col("is_removed").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# --- X11c: cluster-safe (leakage-free) train/val/test split -----------------


@query(
    "ml_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE edges AS ({minhash_pairs_sql()}),
    nodes AS (
      SELECT doc_a AS id FROM edges UNION SELECT doc_b FROM edges
    ), bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM edges
    ), reach(id, root) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT b.dst AS id, r.root
      FROM reach r JOIN bidir b ON b.src = r.id
    ), comp AS (
      SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id
    ), grouped AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS gk
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ), assigned AS (
      SELECT doc_id, gk,
             CASE WHEN b < 12 THEN 'train'
                  WHEN b < 14 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id, gk, {_BUCKET_GK_SQL} AS b
        FROM grouped
      )
    )
    SELECT
      CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
      CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      CAST(count(DISTINCT gk) AS BIGINT) AS n_groups,
      CAST((SELECT count(*) FROM edges e
            JOIN assigned a1 ON e.doc_a = a1.doc_id
            JOIN assigned a2 ON e.doc_b = a2.doc_id
            WHERE a1.split <> a2.split) AS BIGINT) AS leaked_pairs
    FROM assigned
    """,
    survey_ref="X11c (cluster-aware split: near-dups share a split, leakage audited)",
)
def ml_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: a plain per-document hash split
    puts near-duplicate documents in DIFFERENT splits (train/test leakage —
    the classic eval-inflation bug); here every near-dup CLUSTER is
    assigned as a unit. Pipeline: MinHash-LSH pairs → connected components
    → group key = cluster id (or own doc_id for singletons) →
    content-addressed 12/2/2 split on md5(group key) → one-row manifest
    plus an explicit leakage audit (count of near-dup pairs straddling
    splits — zero BY CONSTRUCTION, and the oracle recomputes it zero from
    the same edge set, so a grouping bug breaks the hash).

    Scale notes (100 TB): reuses the iterative component resolution
    (checkpointed label propagation); assignment adds one narrow map on
    (doc_id, cluster_id) and the audit joins the dim-sized assignment back
    to the edge set — the corpus text never shuffles."""
    pairs = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = cluster_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    grouped = d.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("gk")
    )
    bucket = _hash_bucket("gk")
    assigned = grouped.select(
        "doc_id",
        "gk",
        F.when(bucket < 12, "train").when(bucket < 14, "val").otherwise("test").alias(
            "split"
        ),
    )
    leaked = (
        pairs.join(
            assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("leaked_pairs"))
    )
    manifest = assigned.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.countDistinct("gk").alias("n_groups"),
    )
    return manifest.crossJoin(leaked)


# --- X8b: quality-aware cluster survivor selection ---------------------------


@query(
    "dedup_cluster_best_survivor",
    oracle=f"""
    WITH RECURSIVE edges AS ({minhash_pairs_sql()}),
    nodes AS (
      SELECT doc_a AS id FROM edges UNION SELECT doc_b FROM edges
    ), bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM edges
    ), reach(id, root) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT b.dst AS id, r.root
      FROM reach r JOIN bidir b ON b.src = r.id
    ), comp AS (
      SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id
    ), m AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    ), r AS (
      SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
             ) AS rn,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members
      FROM m
    )
    SELECT cluster_id, doc_id AS survivor_doc_id,
           n_chars AS survivor_n_chars, n_members
    FROM r WHERE rn = 1 ORDER BY cluster_id
    """,
    survey_ref="X8b,X1,X2,X8 (quality-aware survivor: keep best doc per near-dup cluster)",
)
def dedup_cluster_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical-member selection: within each near-dup
    cluster keep the HIGHEST-QUALITY document (here: max n_chars, ties to
    min doc_id), not the arbitrary min-id member that
    dedup_cluster_survivors keeps. This is how production corpus dedup
    actually chooses survivors — near-dup web pages differ in boilerplate
    and truncation, and keeping the longest/cleanest variant measurably
    improves downstream training data (the quality key is pluggable: any
    deterministic per-doc score column slots into the same rank window).

    Scale: cluster membership (pairs-derived) is dim-sized relative to the
    corpus, so the quality lookup is a BROADCAST join against the documents
    scan — the corpus never shuffles; the rank window partitions by
    cluster_id over (id, n_chars) longs only, and near-dup clusters are
    tiny (no skewed mega-partition; a pathological giant cluster would
    already have been flagged by the components step). Total order inside
    the window: (n_chars DESC, doc_id) — doc_id is unique, so survivor
    choice is deterministic under any partitioning."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = cluster_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    labeled = docs.join(F.broadcast(comp), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_chars").alias("survivor_n_chars"),
            "n_members",
        )
        .orderBy("cluster_id")
    )


# --- X8c: centrality over the near-dup graph (canonical-doc PageRank) --------

_PR_ITERS = 3
_PR_TOPK = 20


def _pr_iter_sql(prev: str, nxt: str) -> str:
    """One power iteration as a DuckDB CTE over the bidirectional edge
    table: each node sends floor(rank/degree) to every neighbor, receivers
    fold the exact-integer sum with damping 0.85 (integer form:
    (sum*85)//100 + 0.15e9). Every step is BIGINT arithmetic, so the
    replay is bit-identical to Spark under any partitioning."""
    return f"""
    {nxt} AS (
      SELECT e.dst AS id,
             CAST((sum(r.r // d.degree) * 85) // 100 + 150000000 AS BIGINT) AS r
      FROM bidir e
      JOIN {prev} r ON r.id = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""


@query(
    "dedup_graph_pagerank",
    oracle=f"""
    WITH edges AS ({minhash_pairs_sql()}),
    bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM edges
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS degree FROM bidir GROUP BY src
    ), r0 AS (
      SELECT src AS id, CAST(1000000000 AS BIGINT) AS r FROM deg
    ),{",".join(_pr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS))}
    SELECT r.id AS doc_id, d.degree, r.r AS rank_ppb
    FROM r{_PR_ITERS} r JOIN deg d ON d.src = r.id
    ORDER BY rank_ppb DESC, doc_id LIMIT {_PR_TOPK}
    """,
    survey_ref="X8c (near-dup graph centrality: canonical-doc PageRank)",
)
def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verified near-dup graph — the centrality signal
    for CANONICAL-document selection: within a duplicate cluster, the doc
    most linked to other near-dups is the best canonical survivor (the
    graph-native alternative to X8b's quality-score argmax; rank also
    surfaces template hubs that connected components alone cannot —
    a boilerplate page near-dup to 50 others ranks far above a one-off
    pair). {_PR_ITERS} power iterations, damping 0.85, over the memoized
    pair asset (the same shared edge set the cluster family consumes).

    Cross-engine determinism by construction: ranks live in exact-integer
    ppb (init 1e9/node), each node sends floor(rank/degree) per edge, and
    damping is the integer form (sum*85)//100 + 0.15e9 — BIGINT arithmetic
    at every step, so partial-sum order cannot flip a bit and DuckDB
    replays the {_PR_ITERS} unrolled iterations bit-identically (the
    IVF-fit oracle pattern, minus even the fixed-order float fold).
    Headroom: the folded sum is bounded by max_degree * 1e9 * 85 —
    safe in BIGINT for any node under ~1e8 near-dup neighbors, far past
    any real duplicate-cluster fan-out.

    Shape (100 TB): each iteration is one shuffle of the edge table on the
    rank key plus a map-side-combinable integer sum — the standard
    power-iteration shape (iterations few and fixed, no driver loop at
    all, unlike CC's convergence probe); the top-{_PR_TOPK} leaves as a
    TakeOrdered. Edges derive from the memoized verified pair set, so a
    full drive pays the LSH build once across the whole graph family."""
    pairs = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    bidir = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    deg = checkpoint(
        bidir.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("degree")),
        eager=False,
    )
    # (src, dst, degree-of-sender), checkpointed ONCE: three iterations
    # plus the final join all read the stored 24-byte rows instead of
    # re-deriving edges+degrees per iteration (the lineage otherwise grows
    # a full edge-table subtree per power step — same discipline as CC's
    # per-round truncation and the boilerplate census)
    ed = checkpoint(bidir.join(deg, "src"), eager=False)
    r = deg.select(F.col("src").alias("id"), F.lit(10**9).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        r = (
            ed.join(r, ed["src"] == r["id"])
            .select(F.col("dst").alias("id"), F.expr("r div degree").alias("c"))
            .groupBy("id")
            .agg(F.expr("(sum(c) * 85) div 100 + 150000000").cast("long").alias("r"))
        )
    return (
        r.join(deg, r["id"] == deg["src"])
        .select(F.col("id").alias("doc_id"), "degree", F.col("r").alias("rank_ppb"))
        .orderBy(F.desc("rank_ppb"), F.asc("doc_id"))
        .limit(_PR_TOPK)
    )
