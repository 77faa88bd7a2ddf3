"""Incremental corpus admission: dedup a NEW ingest batch against an
EXISTING corpus (SURVEY §2.10 X1/X2 extension — the production ingest shape).

Batch-vs-batch dedup (dedup.py) answers "is this corpus internally unique";
a production training-data pipeline almost never re-runs that global job.
Day to day it answers the *incremental* question: given ~100 TB of already-
admitted documents and today's crawl, which new documents are duplicates of
something we already have? The reference has no notion of incremental state
at all (one batch query over one file, `python_1brc/main.py:15-22`); this is
extension surface for the LLM curation path.

Two admission gates, cheapest first:

  1. **Exact**: md5(text) of each new doc semi-joined against the corpus
     digest set — rejects byte-identical re-crawls for the cost of one
     digest shuffle (no text moves, no shingling).
  2. **Near-dup**: MinHash band signatures (identical construction to
     dedup.dedup_minhash_lsh: 12 hashes, 4 bands × 3 rows) joined
     batch-side × corpus-side only — the key asymmetry. Candidates are
     verified with exact shingle-Jaccard ≥ 0.7, so LSH prunes and Jaccard
     decides, same as the batch operator.

Why this scales where re-running global dedup doesn't: the corpus×corpus
quadrant — overwhelmingly the largest — is never joined: only batch band
keys meet corpus band keys, and the batch side is small. Here the corpus
is banded in-flight on every run; a production deployment would keep its
band keys as a table written once per admission epoch (see SCALING.md).
Work per ingest beyond that banding ≈ O(|batch| + collisions).

The "new batch" predicate here is a content-addressed ~19% sample
(first md5 hex digit of doc_id < 3, same bucketing idiom as
ml_cluster_safe_split) so the split is stable under testdata regeneration
and uncorrelated with source — the oracle reproduces it verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from onebrc_spark.operators.dedup import (
    _LSH_BANDS,
    _LSH_ROWS,
    _MINHASH_N,
    _MINHASH_THRESHOLD,
    _affine_sql,
    _band_keys_sqlx,
    _base_digits_sql,
    _minhash_signature_sqlx,
    _word_3grams_sqlx,
)
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table, spread

# New-batch bucket: first md5 hex digit of doc_id in [0, _NEW_BUCKET_MAX) →
# ~3/16 ≈ 19% of the corpus plays "today's crawl".
_NEW_BUCKET_MAX = 3


def _is_new_sqlx(expr: str) -> str:
    """Spark-SQL text of batch membership: mlprep's ONE md5-bucket idiom
    below _NEW_BUCKET_MAX."""
    from onebrc_spark.operators.mlprep import _hash_bucket_sqlx

    return f"{_hash_bucket_sqlx(expr)} < {_NEW_BUCKET_MAX}"


def _is_new_sql(expr: str) -> str:
    """DuckDB twin of _is_new_sqlx."""
    from onebrc_spark.operators.mlprep import hash_bucket_sql

    return f"({hash_bucket_sql(expr)}) < {_NEW_BUCKET_MAX}"


def _admission_sql(view: str) -> str:
    """The full admission query as ONE Spark-SQL statement over the spread
    documents view (r14, guide §1.2 step 2 — the one-parse technique the
    minhash build uses, see dedup._pairs_sql_from_collapsed). A Column
    composition built ~1,700 py4j round trips per query build,
    re-analyzing the shingle/signature forests at every Dataset creation;
    this is one parse + one analysis.

    The is_new split is derived exactly once (the `tagged` CTE), so both
    gates and the manifest see the identical membership.

      - Exact gate: digests only cross the wire, never text. Exact
        rejections are decided first; the near gate only ever adds docs
        the exact gate admitted (a doc is counted once, by its cheapest
        gate).
      - Near gate: batch bands × corpus bands ONLY (the corpus never
        self-joins), then exact-Jaccard verification of the candidates.
        Band keys are dedup._band_keys_sqlx's hashed keys, the ones the
        pair build bands on. The candidate set (not the corpus) drives
        the verify joins: texts are attached per candidate pair and
        shingled THERE, so the full corpus is shingled exactly once (for
        banding) — verification work is O(candidates), and the small
        candidate side broadcasts, leaving the corpus text scan
        exchange-free.
      - ANSI-0/0 guard (edge-fixture class): two sub-3-gram docs always
        band-collide (empty sets share a signature) and their undefined
        Jaccard must DROP — DuckDB's x/0 is NULL, Spark would throw."""
    ai = "size(array_intersect(ws_a, ws_b))"
    un = f"(size(ws_a) + size(ws_b) - {ai})"

    def bkeys(side: str) -> str:
        return (
            "SELECT doc_id, band_key FROM ("
            f"  SELECT doc_id, {_minhash_signature_sqlx('ws')} AS sig FROM ("
            f"    SELECT doc_id, {_word_3grams_sqlx('text')} AS ws FROM {side})) s"
            f" LATERAL VIEW explode({_band_keys_sqlx('sig')}) t AS band_key"
        )

    return f"""
    WITH tagged AS (
      SELECT doc_id, source, text, {_is_new_sqlx('doc_id')} AS is_new
      FROM {view}
    ),
    batch AS (SELECT doc_id, source, text FROM tagged WHERE is_new),
    corpus AS (SELECT doc_id, text FROM tagged WHERE NOT is_new),
    exact_rej AS (
      SELECT doc_id, 'exact' AS reason FROM (
        SELECT b.doc_id FROM (SELECT doc_id, md5(text) AS digest FROM batch) b
        LEFT SEMI JOIN (SELECT DISTINCT md5(text) AS digest FROM corpus) c
          ON b.digest = c.digest
      )
    ),
    bb AS ({bkeys("batch")}),
    cb AS ({bkeys("corpus")}),
    cand AS (
      SELECT DISTINCT bb.doc_id AS new_id, cb.doc_id AS corpus_id
      FROM bb JOIN cb ON bb.band_key = cb.band_key
    ),
    near_pairs AS (
      SELECT c.new_id,
             {_word_3grams_sqlx('ba.text')} AS ws_a,
             {_word_3grams_sqlx('co.text')} AS ws_b
      FROM cand c
      JOIN batch ba ON ba.doc_id = c.new_id
      JOIN corpus co ON co.doc_id = c.corpus_id
    ),
    near_hit AS (
      SELECT DISTINCT new_id AS doc_id FROM near_pairs
      WHERE CAST({ai} AS DOUBLE) /
            (CASE WHEN {un} = 0 THEN NULL ELSE {un} END)
            >= {_MINHASH_THRESHOLD}D
    ),
    near_rej AS (
      SELECT n.doc_id, 'near' AS reason FROM near_hit n
      LEFT ANTI JOIN exact_rej e ON n.doc_id = e.doc_id
    ),
    rejected AS (
      SELECT doc_id, reason FROM exact_rej
      UNION ALL
      SELECT doc_id, reason FROM near_rej
    )
    SELECT b.source,
           count(1) AS n_new,
           CAST(sum(CASE WHEN r.reason IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           CAST(sum(CASE WHEN r.reason IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rejected
    FROM (SELECT doc_id, source FROM batch) b
    LEFT JOIN rejected r ON b.doc_id = r.doc_id
    GROUP BY b.source ORDER BY b.source
    """


@query(
    "dedup_incremental_admission",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, source, text, {_is_new_sql("doc_id")} AS is_new
      FROM documents
    ), toks AS (
      SELECT doc_id, is_new, string_split(text, ' ') AS raw_ws FROM tagged
    ), words AS (
      SELECT doc_id, is_new,
             list_distinct(list_transform(
               range(1, greatest(len(raw_ws) - 1, 1)),
               i -> raw_ws[i] || ' ' || raw_ws[i+1] || ' ' || raw_ws[i+2])) AS ws
      FROM toks
    ), based AS (
      SELECT doc_id, is_new,
             list_transform(ws, w -> {_base_digits_sql("w")}) AS bases
      FROM words
    ), sigs AS (
      SELECT doc_id, is_new,
             [{", ".join("list_min(list_transform(bases, h -> " + _affine_sql("h", s) + "))" for s in range(_MINHASH_N))}]
               AS sig
      FROM based
    ), bands AS (
      SELECT doc_id, is_new, band,
             sig[band*{_LSH_ROWS}+1:band*{_LSH_ROWS}+{_LSH_ROWS}] AS band_sig
      FROM sigs, (SELECT unnest(range({_LSH_BANDS})) AS band)
    ), exact_rej AS (
      SELECT DISTINCT b.doc_id
      FROM tagged b JOIN tagged c
        ON b.is_new AND NOT c.is_new AND md5(b.text) = md5(c.text)
    ), cand AS (
      SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
      FROM bands b JOIN bands c
        ON b.is_new AND NOT c.is_new
       AND b.band = c.band AND b.band_sig = c.band_sig
    ), near_rej AS (
      SELECT DISTINCT new_id AS doc_id
      FROM cand
      JOIN words wa ON wa.doc_id = cand.new_id
      JOIN words wb ON wb.doc_id = cand.corpus_id
      WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
            / (len(wa.ws) + len(wb.ws) - len(list_intersect(wa.ws, wb.ws)))
            >= {_MINHASH_THRESHOLD}
        AND new_id NOT IN (SELECT doc_id FROM exact_rej)
    ), rejected AS (
      SELECT doc_id FROM exact_rej UNION SELECT doc_id FROM near_rej
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rejected
    FROM tagged t LEFT JOIN rejected r ON t.doc_id = r.doc_id
    WHERE t.is_new
    GROUP BY t.source ORDER BY t.source
    """,
    survey_ref="X1b,X1,X2 (incremental ingest: new batch deduped against corpus)",
)
def dedup_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source admission manifest for an incremental ingest: a ~19%
    content-addressed batch of `documents` plays today's crawl, the rest is
    the standing corpus; each new doc passes an exact-digest gate then a
    MinHash-LSH near-dup gate (both against the CORPUS side only — the
    corpus never self-joins, which is what keeps the ingest cost independent
    of corpus size at 100 TB). Oracle reproduces both gates, signatures and
    all, in DuckDB; the per-source admitted/rejected counts hash-verify the
    full pipeline."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    # ONE spark.sql for the whole pipeline (see _admission_sql)
    return spark.sql(_admission_sql("{docs}"), docs=docs)

