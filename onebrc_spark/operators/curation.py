"""Corpus-curation operators for LLM training pipelines (SURVEY §2.10
extension surface, second batch: X6 packing / X7 contamination / X4 quality).

These are the steps between a deduplicated corpus and a tokenizer shard:
sequence packing (fill fixed token budgets), train/test contamination
detection (n-gram overlap across splits), repetition-based quality filtering,
TF-IDF term profiling, and data-driven stopword/boilerplate removal.

Scale notes (100 TB):
  - packing windows partition by source shard — no global window; at cluster
    scale the shard key widens to (source, hash_prefix) and each shard packs
    independently (packing is embarrassingly parallel across shards).
  - contamination is wordcount-shaped: explode distinct n-grams, equi-join
    on the gram. The shuffle carries (gram, doc_id) — never the text.
  - quality scoring is a narrow per-row expression (JVM codegen, no Python).
  - TF-IDF / stopwords shuffle (source, term) counts; the stoplist and the
    source census are dim-sized and broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from onebrc_spark.operators.memo import checkpoint
from onebrc_spark.operators.mlprep import _HASH_BUCKET_SQL, _hash_bucket
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table

_WORDS = lambda c: F.split(c, " ")  # noqa: E731  (single-space: see dedup.py)


def word_ngrams(text_col: Column, n: int, distinct: bool = True) -> Column:
    """Word n-gram array (bag or distinct-set), built by zip_with-folding n
    shifted slices — the indexed element_at-in-transform form referenced
    the split array n+2 times and bloated first-touch codegen ~6×
    (measured on dedup.word_3grams before the same switch). Slice bounds
    keep it ANSI-safe: no index ever passes the array end."""
    words = _WORDS(text_col)
    cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.slice(words, 1, cnt)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(words, j + 1, cnt),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return F.array_distinct(grams) if distinct else grams


def _ngram_sql(n: int, distinct: bool = True) -> str:
    """DuckDB twin of word_ngrams over string_split(text, ' ') AS ws."""
    concat = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    body = (
        f"list_transform(range(1, greatest(len(ws) - {n - 2}, 1)), i -> {concat})"
    )
    return f"list_distinct({body})" if distinct else body


def sorted_pairs(arr: str, a_name: str, b_name: str) -> Column:
    """All C(k,2) ordered pairs (arr[i], arr[j]), i<j, from a SORTED array
    column — the shared pair-explosion used by the source-overlap matrix
    and the co-occurrence lift (factored in round 5: the nested
    sequence/transform index arithmetic is easy to get subtly wrong and
    existed twice verbatim). ANSI-safe for k ≥ 2 (callers filter k < 2)."""
    k = F.size(arr)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 2),
            lambda i: F.transform(
                F.sequence(i + 1, k - 1),
                lambda j: F.struct(
                    F.col(arr)[i].alias(a_name),
                    F.col(arr)[j].alias(b_name),
                ),
            ),
        )
    )


# --- X6: sequence packing ---------------------------------------------------

_PACK_BUDGET = 2048  # chars as the token proxy (real pipelines: tokens)


@query(
    "ml_sequence_packing",
    oracle=f"""
    WITH cum AS (
      SELECT source, n_chars,
             sum(n_chars) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM documents
    ), packed AS (
      SELECT source, n_chars, (c - n_chars) // {_PACK_BUDGET} AS seq_id
      FROM cum
    ), seqs AS (
      SELECT source, seq_id,
             CAST(sum(n_chars) AS BIGINT) AS seq_chars,
             count(*) AS n_docs
      FROM packed GROUP BY source, seq_id
    )
    SELECT source,
           count(*) AS n_seqs,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(seq_chars) AS BIGINT) / count(*)
             / {_PACK_BUDGET}.0 AS avg_fill
    FROM seqs GROUP BY source ORDER BY source
    """,
    survey_ref="X6 (sequence packing for training shards)",
)
def ml_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: within each source shard, order
    documents by content-addressed hash (a deterministic shuffle — same
    rationale as ml_hash_split) and fill {_PACK_BUDGET}-char training
    sequences by running total; a document belongs to the sequence its
    start offset falls in. Reported as the per-source packing census
    (sequence count, docs packed, mean fill factor).

    Scale: ONE window per source shard, then hash aggregation — no global
    sort. Packing is the op that turns a cleaned corpus into fixed-length
    training rows; fill factor is the utilization metric every pipeline
    tracks (waste = 1 - fill)."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.select(
        "source",
        "n_chars",
        F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / _PACK_BUDGET).alias(
            "seq_id"
        ),
    )
    seqs = packed.groupBy("source", "seq_id").agg(
        F.sum("n_chars").alias("seq_chars"), F.count(F.lit(1)).alias("n_docs")
    )
    return (
        seqs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_docs").alias("n_docs"),
            # unrounded exact-integer quotient (registry rule: a final
            # round() diverges between engines on print-boundary doubles)
            (
                F.sum("seq_chars") / F.count(F.lit(1)) / F.lit(float(_PACK_BUDGET))
            ).alias("avg_fill"),
        )
        .orderBy("source")
    )


# --- X7: train/test contamination ------------------------------------------

_CONTAM_N = 5  # gram width: long enough that overlap implies shared passages


@query(
    "ml_contamination_ngram",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, string_split(text, ' ') AS ws, {_HASH_BUCKET_SQL} AS bucket
      FROM documents
    ), grams AS (
      SELECT doc_id, bucket, unnest({_ngram_sql(_CONTAM_N)}) AS g FROM b
    ), hits AS (
      SELECT tr.doc_id AS train_doc, tr.g
      FROM grams tr JOIN grams te ON tr.g = te.g
      WHERE tr.bucket < 12 AND te.bucket >= 14
    )
    SELECT (SELECT count(*) FROM b WHERE bucket >= 14) AS n_test_docs,
           count(DISTINCT train_doc) AS n_contaminated_train_docs,
           count(DISTINCT g) AS n_shared_grams
    FROM hits
    """,
    survey_ref="X7 (benchmark-contamination detection across splits)",
)
def ml_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: does any training document share a
    {_CONTAM_N}-gram passage with the held-out test split (the ml_hash_split
    buckets)? The pre-training hygiene op — benchmark answers leaking into
    training data is detected exactly this way (n-gram collision, e.g.
    GPT-3's 13-gram dedup against benchmarks).

    Scale: the join key is the n-gram string; shuffle carries (gram, doc_id)
    pairs only. The test side is tiny (the benchmark suite) — at cluster
    scale it broadcasts and the training corpus never shuffles at all."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        _hash_bucket("doc_id").alias("bucket"),
        word_ngrams(F.col("text"), _CONTAM_N).alias("gset"),
    )
    grams = b.select("doc_id", "bucket", F.explode("gset").alias("g"))
    tr = grams.filter(F.col("bucket") < 12).select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    te = grams.filter(F.col("bucket") >= 14).select("g").distinct()
    hits = tr.join(F.broadcast(te), "g")
    n_test = b.filter(F.col("bucket") >= 14).agg(
        F.count(F.lit(1)).alias("n_test_docs")
    )
    return n_test.crossJoin(
        hits.agg(
            F.countDistinct("train_doc").alias("n_contaminated_train_docs"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
    ).select("n_test_docs", "n_contaminated_train_docs", "n_shared_grams")


# --- X4 quality: repetition filter ------------------------------------------

_REP_THRESHOLD = 0.08  # flag docs where >8% of 2-grams are repeats


@query(
    "text_repetition_score",
    oracle=f"""
    WITH t AS (
      SELECT source, string_split(text, ' ') AS ws FROM documents
    ), scored AS (
      SELECT source,
             CASE WHEN len(ws) < 2 THEN CAST(0 AS BIGINT)
                  ELSE 1000000
                       - (CAST(len(list_distinct({_ngram_sql(2, distinct=False)}))
                               AS BIGINT) * 1000000) // (len(ws) - 1)
             END AS rep_ppm
      FROM t
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rep_ppm > {int(_REP_THRESHOLD * 1_000_000)}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(CAST(sum(rep_ppm) AS BIGINT) AS DOUBLE) / count(*) / 1e6 AS avg_rep,
           CAST(max(rep_ppm) AS DOUBLE) / 1e6 AS max_rep
    FROM scored GROUP BY source ORDER BY source
    """,
    survey_ref="X4 (quality: repeated-n-gram filter)",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter: fraction of word-2-grams that are repeats
    (1 - distinct/total). High repetition marks boilerplate/spam/generation
    loops — one of the standard quality signals (alongside text_quality_score)
    a pretraining pipeline thresholds on. Reported per source with the count
    a {_REP_THRESHOLD}-threshold filter would drop.

    Round-5 fixes: (a) documents with < 2 words have zero bigrams and were
    scored maximally repetitive (1 - 0/1 = 1.0), inflating n_flagged and
    pinning max_rep — they now score 0 (nothing can repeat); (b) the score
    is an EXACT integer ppm (1e6 - distinct·1e6 div (len-1)) rather than a
    per-row float round, so the per-source mean/max are exact-integer
    quotients, unrounded, bit-identical across engines and partitionings.

    Scale: pure per-row JVM expression + one hash aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    ws = _WORDS(F.col("text"))
    bag = word_ngrams(F.col("text"), 2, distinct=False)
    rep_ppm = F.when(F.size(F.col("ws_arr")) < 2, F.lit(0).cast("long")).otherwise(
        F.lit(1_000_000).cast("long")
        - F.expr(
            "CAST(size(array_distinct(bag)) AS BIGINT) * 1000000"
            " div (size(ws_arr) - 1)"
        )
    )
    return (
        docs.select(
            "source", ws.alias("ws_arr"), bag.alias("bag")
        )
        .select("source", rep_ppm.alias("rep_ppm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("rep_ppm") > int(_REP_THRESHOLD * 1_000_000), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
            (
                F.sum("rep_ppm").cast("long").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6)
            ).alias("avg_rep"),
            (F.max("rep_ppm").cast("double") / F.lit(1e6)).alias("max_rep"),
        )
        .orderBy("source")
    )


# --- X4: TF-IDF term profiling ----------------------------------------------

_TFIDF_TOPK = 3


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT source, term, count(*) AS tf FROM toks GROUP BY source, term
    ), df AS (
      -- a NULL source is a first-class collection (the "unsourced" bucket):
      -- count(DISTINCT) skips NULLs, so add the null-group flag back — this
      -- matches Spark's row-count-per-term over the (source, term) groups,
      -- where the NULL group is one row like any other
      SELECT term, count(DISTINCT source)
                   + max(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS df
      FROM toks GROUP BY term
    ), n AS (
      SELECT count(DISTINCT source)
             + max(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS n_sources
      FROM documents
    ), scored AS (
      SELECT tf.source, tf.term,
             round(tf.tf * ln(CAST(n.n_sources AS DOUBLE) / df.df), 6) AS score
      FROM tf JOIN df USING (term), n
    ), ranked AS (
      SELECT source, term, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, term) AS rn
      FROM scored
    )
    SELECT source, term, floor(score * 10000 + 0.5) / 10000 AS score, rn
    FROM ranked WHERE rn <= {_TFIDF_TOPK}
    ORDER BY source, rn
    """,
    survey_ref="X4 (TF-IDF source profiling)",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TFIDF_TOPK} characteristic terms per source by TF-IDF (idf over
    the source collection): the data-profiling op for mixture curation —
    what distinguishes each source's vocabulary. Deterministic tie-break
    (score DESC, term).

    Scale: ONE wordcount pass over the corpus; document frequency derives
    from the (source, term) counts (df(term) = #rows in tf), so the second
    aggregation is vocabulary-sized, not corpus-sized — and the df table is
    broadcast into the score join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(_WORDS(F.col("text"))).alias("term"))
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df(term) = number of sources where tf > 0 = row count per term in tf
    # (the NULL-source group is one row like any other — the "unsourced"
    # collection; the oracle adds the null-group flag to count(DISTINCT)).
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_sources = docs.agg(
        (
            F.countDistinct("source")
            + F.max(F.col("source").isNull().cast("long"))
        ).alias("n_sources")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "term",
            # grid-safe round: tf·ln(n/df) is 0 exactly (df = n) or
            # irrational (Lindemann) — a 7th-digit-5 shortest-repr tie
            # needs a half-ulp coincidence (measure-zero; rulebook's
            # transcendental exception). The 4-dp OUTPUT re-round below is
            # the tie-reachable one and uses the floor quantizer.
            F.round(
                F.col("tf") * F.log(F.col("n_sources").cast("double") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_TOPK)
        # floor-quantized, NOT round(·, 4): score is itself a 6-dp rounded
        # value, so x.xxxx50 inputs land EXACTLY on the 5th-digit tie where
        # Spark's decimal-view HALF_UP and DuckDB's binary round diverge
        # (r12 boundary find — the double-rounding case; P≈1% per score).
        .select(
            "source",
            "term",
            (F.floor(F.col("score") * 10000.0 + F.lit(0.5)) / 10000.0).alias("score"),
            "rn",
        )
        .orderBy("source", "rn")
    )


# --- X4: data-driven stopword / boilerplate removal -------------------------

_STOP_K = 5


@query(
    "text_stopword_removal",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ), stop AS (
      SELECT term FROM (
        SELECT term, count(*) AS c FROM toks GROUP BY term
        ORDER BY c DESC, term LIMIT {_STOP_K}
      )
    )
    SELECT source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN term NOT IN (SELECT term FROM stop)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN term NOT IN (SELECT term FROM stop)
                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS kept_ratio
    FROM toks GROUP BY source ORDER BY source
    """,
    survey_ref="X4 (data-driven stopword/boilerplate removal)",
)
def text_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword removal: the {_STOP_K} most frequent tokens
    across the corpus are the stoplist (how boilerplate lists are actually
    built — from the data, not a fixed dictionary); report per-source token
    counts before/after. Deterministic stoplist (count DESC, term).

    Scale: ONE wordcount pass builds the (source, term) counts; both the
    stoplist (a vocabulary-sized top-K — TakeOrdered, no global sort) and
    the per-source totals derive from it, so corpus tokens shuffle exactly
    once and the stoplist joins back by broadcast against the counts table,
    never the tokens."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(_WORDS(F.col("text"))).alias("term"))
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    stop = (
        st.groupBy("term")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(_STOP_K)
        .select("term", F.lit(1).alias("is_stop"))
    )
    flagged = st.join(F.broadcast(stop), "term", "left")
    kept = F.sum(F.when(F.col("is_stop").isNull(), F.col("c")).otherwise(0)).cast("long")
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            kept.alias("n_kept"),
            # unrounded exact-integer quotient (see avg_fill note)
            (kept.cast("double") / F.sum("c")).alias("kept_ratio"),
        )
        .orderBy("source")
    )


# --- search-index build: term -> postings -----------------------------------

_POSTING_CAP = 8


@query(
    "text_inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), terms AS (
      SELECT DISTINCT doc_id, term FROM toks WHERE length(term) >= 3
    ), ranked AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY term) AS df
      FROM terms
    )
    SELECT term, CAST(max(df) AS BIGINT) AS df,
           string_agg(CASE WHEN rn <= {_POSTING_CAP}
                           THEN CAST(doc_id AS VARCHAR) END,
                      ',' ORDER BY doc_id) AS posting_head
    FROM ranked GROUP BY term ORDER BY term
    """,
    survey_ref="X12,X4,A7 (inverted index: term -> df + capped posting list)",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a search inverted index: per term, document frequency and the
    head of the doc_id posting list (capped, serialized — registry rule
    bans array columns). The wordcount shuffle shape: the text itself never
    moves, only (term, doc_id) pairs.

    Scale: posting lists for stop-like terms are corpus-sized — the cap is
    applied via sort_array+slice AFTER collect, which is safe only because
    df is bounded by corpus docs per term... at 100 TB the cap moves
    BEFORE the collect: keep rn<=cap via a window over (term) — expressed
    here exactly that way so the collected list is never larger than the
    cap."""
    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.length("term") >= 3)
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    ranked = terms.select(
        "term",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("term")).alias("df"),
    )
    head = F.sort_array(
        F.collect_list(F.when(F.col("rn") <= _POSTING_CAP, F.col("doc_id")))
    )  # collect_list drops the NULLs beyond the cap; longs sort numerically
    return (
        ranked.groupBy("term")
        .agg(
            F.max("df").cast("long").alias("df"),
            F.array_join(
                F.transform(head, lambda x: x.cast("string")), ","
            ).alias("posting_head"),
        )
        .orderBy("term")
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"


@query(
    "text_pii_redaction",
    # Deterministic PII is planted identically on both sides (synthetic docs
    # contain none), then detected and redacted with the same regexes — the
    # check pins match counts AND the redacted byte totals.
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-123-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents
    ), scanned AS (
      SELECT source,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
             octet_length(encode(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g')))
               AS redacted_len
      FROM planted
    )
    SELECT source,
           CAST(sum(n_emails) AS BIGINT) AS total_emails,
           CAST(sum(n_phones) AS BIGINT) AS total_phones,
           CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_pii,
           CAST(sum(redacted_len) AS BIGINT) AS total_redacted_bytes
    FROM scanned GROUP BY source ORDER BY source
    """,
    survey_ref="F5,X4 (PII detection + redaction: regex scrub with audit counts)",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the compliance gate every training corpus passes before
    tokenization: detect emails/phone numbers, replace with typed
    placeholders, and publish per-source audit counts (match counts + final
    byte sizes, so the replacement itself is verified, not just the scan).
    Synthetic docs carry no PII, so deterministic addresses are planted on
    doc_id % 7 == 0 rows — identically in the oracle — keeping the check
    non-vacuous at every SF.

    Scale: pure per-row JVM regex (codegen, no Python); the aggregate is a
    narrow per-source rollup. At 100 TB this runs in the same pass as any
    other per-row transform — zero extra shuffle."""
    d = load_table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scanned = planted.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        F.octet_length(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            )
        ).cast("long").alias("redacted_len"),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.sum("n_emails").cast("long").alias("total_emails"),
            F.sum("n_phones").cast("long").alias("total_phones"),
            F.sum(
                F.when(F.col("n_emails") + F.col("n_phones") > 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("docs_with_pii"),
            F.sum("redacted_len").cast("long").alias("total_redacted_bytes"),
        )
        .orderBy("source")
    )


# --- X4c: corpus-LM rarity scoring (perplexity-style quality signal) --------

_RARITY_TOPK = 20


@query(
    "text_unigram_rarity",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, count(*) AS c FROM words GROUP BY w
    ), corpus AS (
      SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab
    ), scored AS (
      SELECT doc_id,
             count(*) AS n_words,
             CAST(sum(corpus.total // vocab.c) AS BIGINT) AS rarity_sum
      FROM words JOIN vocab USING (w) CROSS JOIN corpus
      GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, rarity_sum,
             rarity_sum * 1000 // n_words AS rarity_density,
             row_number() OVER (
               ORDER BY rarity_sum * 1000 // n_words DESC, doc_id
             ) AS rn
      FROM scored
    )
    SELECT doc_id, n_words, rarity_sum, rarity_density
    FROM ranked WHERE rn <= {_RARITY_TOPK} ORDER BY doc_id
    """,
    survey_ref="X4c (corpus unigram LM -> per-doc rarity; top-k outliers)",
)
def text_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring: build a corpus word-frequency model in
    one pass, score every document by mean token rarity against it, report
    the top-k rarest documents (the classic 'surprising docs' quality
    audit; the inverse ranking finds boilerplate).

    Rarity weight is the EXACT integer ``total_words // count(w)`` (integer
    division) rather than ``-ln(count/total)``: same monotone ordering, but
    bit-identical across engines at any scale — a float NLL sum lands on
    round-half boundaries under engine libm drift (registry rule on ratio
    columns). A real-NLL variant is the same pipeline with the weight
    expression swapped.

    Scale notes (100 TB): wordcount shuffle for the vocab (word, count) —
    never the text; the per-doc scoring re-explodes words and shuffle-joins
    on word (vocab is Zipf-shaped but the join carries counts, not
    documents, and AQE splits any hot word key); the final top-k is a
    TakeOrdered over doc-level rows."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(_WORDS(F.col("text"))).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("long").alias("total"))
    scored = (
        words.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.expr("total DIV c")).cast("long").alias("rarity_sum"),
        )
    )
    return (
        scored.withColumn("rarity_density", F.expr("rarity_sum * 1000 DIV n_words"))
        # TakeOrderedAndProject (distributed top-k, no global sort); the
        # (density, doc_id) key is a total order so the cut is deterministic.
        .orderBy(F.col("rarity_density").desc(), F.col("doc_id"))
        .limit(_RARITY_TOPK)
        .select("doc_id", "n_words", "rarity_sum", "rarity_density")
        .orderBy("doc_id")
    )


# --- X16b: cross-source overlap matrix --------------------------------------


@query(
    "text_source_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS raw_ws FROM documents
    ), grams AS (
      SELECT DISTINCT source, g FROM toks,
      unnest(list_transform(range(1, greatest(len(raw_ws) - 1, 1)),
             i -> raw_ws[i] || ' ' || raw_ws[i+1] || ' ' || raw_ws[i+2])) AS t(g)
    ), sizes AS (
      SELECT source, count(*) AS n FROM grams GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
    survey_ref="X2b,X2,X4 (cross-source shingle-overlap matrix: duplication prior)",
)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-set Jaccard between every pair of SOURCES — the
    corpus-level duplication prior that decides where document-level dedup
    budget should go (two mirrors of the same crawl light up here before
    any pairwise doc comparison runs). Distinct word-3-grams per source,
    self-joined on the gram, Jaccard from the inclusion-exclusion sizes.

    Scale (100 TB): one shuffle, shaped like a wordcount over the distinct
    (shingle → source-set) VOCABULARY — orders of magnitude smaller than
    the corpus, and the text itself never shuffles. No self-join: the
    per-gram source-set (bounded by the source census, so never a wide
    row) emits its C(k,2) pairs directly, ≤ C(n_sources, 2) per gram —
    linear in vocabulary size for a fixed census. The size census and the
    pair census both read the SAME aggregated gram table, so Catalyst
    reuses its exchange instead of re-scanning the corpus (the r4 rewrite:
    the earlier gram⋈gram self-join derived the vocabulary twice and ran
    2.5× slower at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    from onebrc_spark.operators.dedup import word_3grams

    gram_sources = (
        docs.select("source", F.explode(word_3grams("text")).alias("g"))
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
    )
    sizes = (
        gram_sources.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = gram_sources.filter(F.size("ss") >= 2).select(
        F.explode(sorted_pairs("ss", "source_a", "source_b")).alias("p")
    )
    shared = (
        pairs.groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            # unrounded exact-integer ratio (registry rule: a final
            # round() diverges between engines on print-boundary doubles)
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --- X4d: head-vocabulary co-occurrence lift --------------------------------

_LIFT_TOPV = 40  # head vocabulary size (by document frequency)
_LIFT_TOPK = 30  # reported pairs


@query(
    "text_cooccurrence_lift",
    oracle=f"""
    WITH doc_tokens AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ), dfreq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM doc_tokens WHERE token <> '' GROUP BY token
    ), topv AS (
      SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT {_LIFT_TOPV}
    ), head AS (
      SELECT t.doc_id, t.token FROM doc_tokens t JOIN topv v ON v.token = t.token
    ), pairs AS (
      SELECT a.doc_id, a.token AS tok_a, b.token AS tok_b
      FROM head a JOIN head b ON a.doc_id = b.doc_id AND a.token < b.token
    ), pc AS (
      SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS c_ab
      FROM pairs GROUP BY tok_a, tok_b
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tok_a, tok_b, c_ab, va.df AS c_a, vb.df AS c_b,
           CAST((c_ab * n_docs * 1000000) // (va.df * vb.df) AS BIGINT)
             AS lift_ppm
    FROM pc JOIN topv va ON va.token = tok_a JOIN topv vb ON vb.token = tok_b, n
    ORDER BY c_ab DESC, tok_a, tok_b
    LIMIT {_LIFT_TOPK}
    """,
    survey_ref="X4d (collocation: head-vocabulary co-occurrence lift)",
)
def text_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association lift between head-vocabulary token pairs: restrict each
    document's distinct tokens to the corpus' top-V vocabulary by document
    frequency, count pair co-occurrence, and report lift =
    P(a,b)/(P(a)·P(b)) for the most frequent pairs — the collocation
    profile that separates topical phrases from independent filler.
    Emitted as exact-integer ppm (c_ab·N·1e6 // (c_a·c_b), registry
    round-half rule) so the hash is engine-stable. Validity bound: the
    numerator must stay under 2^63, i.e. c_ab·n_docs < 9.2e12 — beyond
    that Spark's non-ANSI multiply wraps where DuckDB raises (a loud
    driver red, not a silent wrong answer); for corpora past the bound,
    drop the 1e6 scale or stage the division ((c_ab·N) div c_a, then
    ·1e6 div c_b) identically on both sides.

    Scale (100 TB): the vocabulary census is a wordcount shuffle; the
    top-V list is broadcast, so per-document work is an array
    intersection; pairs are emitted per-document from the sorted head-token
    array — C(V,2)-bounded, NO doc-level self-join (the oracle's self-join
    is the semantic spec; the plan ships ≤V tokens per doc once). The pair
    census aggregates at most C(V,2) = {_LIFT_TOPV * (_LIFT_TOPV - 1) // 2}
    distinct keys regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    doc_tokens = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    dfreq = doc_tokens.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    topv = dfreq.orderBy(F.col("df").desc(), "token").limit(_LIFT_TOPV)
    head = doc_tokens.join(F.broadcast(topv.select("token")), "token")
    doc_heads = head.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("token")).alias("ts")
    )
    pairs = doc_heads.filter(F.size("ts") >= 2).select(
        F.explode(sorted_pairs("ts", "tok_a", "tok_b")).alias("p")
    )
    pc = (
        pairs.groupBy(F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    va = topv.select(F.col("token").alias("tok_a"), F.col("df").alias("c_a"))
    vb = topv.select(F.col("token").alias("tok_b"), F.col("df").alias("c_b"))
    return (
        pc.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            "c_a",
            "c_b",
            # `div`, not `/` + floor: long `/` is IEEE double division,
            # which loses exactness past 2^53 where BIGINT // does not —
            # the oracle-parity contract needs true integer division.
            F.expr("(c_ab * n_docs * 1000000L) div (c_a * c_b)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.col("c_ab").desc(), "tok_a", "tok_b")
        .limit(_LIFT_TOPK)
    )

# End-to-end pipeline contract constants (each calibrated so EVERY stage
# drops documents at the driver SF — no vacuous stages; see the docstring).
_PIPE_MIN_TOKENS = 15
_PIPE_MIN_TYPE_RATIO_X10 = 4     # distinct-word ratio >= 0.4, exact integers
_PIPE_DOMAIN_CAP = 12            # max docs per source (token-richest first)
_PIPE_TOKEN_BUDGET = 450         # max admitted tokens per source


@query(
    "ml_curation_pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, md5(text) AS digest,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(list_filter(string_split(text, ' '),
                  t -> t <> ''))) AS BIGINT) AS n_types
      FROM documents
    ), flags AS (
      SELECT doc_id, source, n_tokens,
             (row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1)
               AS s1,
             (row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
              AND n_tokens >= {_PIPE_MIN_TOKENS}
              AND n_types * 10 >= {_PIPE_MIN_TYPE_RATIO_X10} * n_tokens)
               AS s2
      FROM toks
    ), ranked AS (
      SELECT *,
             sum(CASE WHEN s2 THEN 1 ELSE 0 END) OVER (
               PARTITION BY source ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cond_rnk
      FROM flags
    ), capped AS (
      SELECT *, (s2 AND cond_rnk <= {_PIPE_DOMAIN_CAP}) AS s3 FROM ranked
    ), budgeted AS (
      SELECT *,
             sum(CASE WHEN s3 THEN n_tokens ELSE 0 END) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cond_cum
      FROM capped
    ), final AS (
      SELECT *, (s3 AND cond_cum <= {_PIPE_TOKEN_BUDGET}) AS s4 FROM budgeted
    ), census AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(coalesce(sum(CASE WHEN s1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n1,
             CAST(coalesce(sum(CASE WHEN s2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2,
             CAST(coalesce(sum(CASE WHEN s3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n3,
             CAST(coalesce(sum(CASE WHEN s4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n4,
             CAST(coalesce(sum(CASE WHEN s1 THEN n_tokens ELSE 0 END), 0) AS BIGINT) AS t1,
             CAST(coalesce(sum(CASE WHEN s2 THEN n_tokens ELSE 0 END), 0) AS BIGINT) AS t2,
             CAST(coalesce(sum(CASE WHEN s3 THEN n_tokens ELSE 0 END), 0) AS BIGINT) AS t3,
             CAST(coalesce(sum(CASE WHEN s4 THEN n_tokens ELSE 0 END), 0) AS BIGINT) AS t4
      FROM final
    )
    SELECT 1 AS stage_ord, 'exact_dedup' AS stage,
           n0 AS docs_in, n1 AS docs_out, t1 AS tokens_out FROM census
    UNION ALL SELECT 2, 'quality_filter', n1, n2, t2 FROM census
    UNION ALL SELECT 3, 'domain_cap', n2, n3, t3 FROM census
    UNION ALL SELECT 4, 'token_budget', n3, n4, t4 FROM census
    ORDER BY stage_ord
    """,
    survey_ref="X11g,X1,X4b,X11 (composed curation pipeline with per-stage accounting)",
)
def ml_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation run: exact dedup → quality filter → per-domain
    cap → per-source token budget, with the per-stage survivor/token
    accounting every production run publishes. This is the end-to-end
    funnel a user of the reference would actually operate; the individual
    stages exist as standalone audited operators (dedup_exact,
    text_quality_score, ml_domain_cap, ml_token_budget) — this op proves
    they COMPOSE, and prices each stage's cut.

    Shape — the one-pass composed-stage pattern: stage membership is a
    CONDITIONAL-WINDOW FLAG, not a materialized intermediate. Stage 3's
    rank-among-survivors is `sum(CASE WHEN s2 THEN 1 END)` over the
    (n_tokens DESC, doc_id) window; stage 4's running token sum counts
    only s3 survivors over the doc_id window. Total cost: ONE shuffle on
    digest + ONE shuffle on source feeding both source-windows (the SCD2
    one-exchange pattern), then a single map-side-combinable census — the
    naive form (filter → count per stage) scans the corpus five times.
    Every number is an exact integer; stage ordering is total
    (doc_id tiebreaks), so the census is partition-invariant."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    toks = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("digest"),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_types"),
    )
    w_digest = Window.partitionBy("digest").orderBy("doc_id")
    s1 = F.row_number().over(w_digest) == 1
    s2 = (
        s1
        & (F.col("n_tokens") >= _PIPE_MIN_TOKENS)
        & (F.col("n_types") * 10 >= _PIPE_MIN_TYPE_RATIO_X10 * F.col("n_tokens"))
    )
    flags = toks.select("doc_id", "source", "n_tokens", s1.alias("s1"), s2.alias("s2"))
    w_rank = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cond_rnk = F.sum(F.when(F.col("s2"), 1).otherwise(0)).over(w_rank)
    capped = flags.withColumn(
        "s3", F.col("s2") & (cond_rnk <= _PIPE_DOMAIN_CAP)
    )
    w_budget = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cond_cum = F.sum(
        F.when(F.col("s3"), F.col("n_tokens")).otherwise(0)
    ).over(w_budget)
    final = capped.withColumn("s4", F.col("s3") & (cond_cum <= _PIPE_TOKEN_BUDGET))

    def _n(flag):
        return F.coalesce(
            F.sum(F.when(F.col(flag), 1).otherwise(0)), F.lit(0)
        ).cast("long")

    def _t(flag):
        return F.coalesce(
            F.sum(F.when(F.col(flag), F.col("n_tokens")).otherwise(0)), F.lit(0)
        ).cast("long")

    census = final.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        _n("s1").alias("n1"), _n("s2").alias("n2"),
        _n("s3").alias("n3"), _n("s4").alias("n4"),
        _t("s1").alias("t1"), _t("s2").alias("t2"),
        _t("s3").alias("t3"), _t("s4").alias("t4"),
    )
    # The census row fans out to 4 stage rows by EXPLODE, not by a union of
    # four selects — a union re-plans the whole census lineage per branch.
    stages = [
        (1, "exact_dedup", "n0", "n1", "t1"),
        (2, "quality_filter", "n1", "n2", "t2"),
        (3, "domain_cap", "n2", "n3", "t3"),
        (4, "token_budget", "n3", "n4", "t4"),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(ord_).alias("stage_ord"),
                F.lit(name).alias("stage"),
                F.col(cin).alias("docs_in"),
                F.col(cout).alias("docs_out"),
                F.col(tout).alias("tokens_out"),
            )
            for ord_, name, cin, cout, tout in stages
        ]
    )
    return (
        census.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("stage_ord")
    )



# Shared boilerplate-removal contract: non-overlapping _BOILER_W-token spans;
# a span is boilerplate when its document frequency reaches _BOILER_TAU.
# text_boilerplate_segments (the per-source ledger) and
# text_boilerplate_clean (the per-document reconstruction) MUST agree on
# these, or the ledger would audit a different cleaning than the one shipped.
_BOILER_W = 4
_BOILER_TAU = 5


def _boiler_toks_sql(text: str) -> str:
    """Spark-SQL text of a document's whitespace tokens, empty tokens
    dropped, NULL-safe."""
    return f"filter(split(coalesce({text}, ''), ' '), x -> x != '')"


def _boiler_occurrence_sql(docs_view: str) -> str:
    """Spark-SQL text of the per-occurrence (doc_id, source, h, seg_chars)
    stream: non-overlapping _BOILER_W-token spans, one row per span.

    The segmenter explodes DIRECTLY over the tokens, never through an
    intermediate CASE-wrapped array column — exploding that column defeats
    Catalyst's size(transform(x)) = size(x) simplification, and the
    inferred size(segs) > 0 generate-filter then pushes below the project
    and re-inlines the WHOLE segmenter per row (measured 2.8× on the
    ledger at sf0.1). The explicit size(t) > 0 filter keeps the sequence
    bound ascending (sequence(1, 0) runs DESCENDING)."""
    W = _BOILER_W
    seg_fold = (
        f"transform(sequence(1, CAST((size(t) + {W - 1}) div {W} AS INT)), "
        f"i -> array_join(slice(t, (i - 1) * {W} + 1, {W}), ' '))"
    )
    return f"""
    SELECT doc_id, source, xxhash64(seg) AS h, length(seg) AS seg_chars
    FROM (
      SELECT doc_id, source, t FROM (
        SELECT doc_id, source, {_boiler_toks_sql('text')} AS t
        FROM {docs_view}
      ) WHERE size(t) > 0
    ) toked
    LATERAL VIEW explode({seg_fold}) sg AS seg
    """


def _boiler_ledger_sql(docs_view: str, segs_view: str) -> str:
    """The census→mark→per-source ledger as one statement over the
    checkpointed occurrence stream (see text_boilerplate_segments)."""
    return f"""
    WITH hot AS (
      SELECT h, 1 AS hot FROM (
        SELECT h, count(DISTINCT doc_id) AS df FROM {segs_view} GROUP BY h
      ) WHERE df >= {_BOILER_TAU}
    ),
    marked AS (
      SELECT /*+ BROADCAST(hot) */
             s.doc_id, s.source, s.seg_chars, coalesce(hot.hot, 0) AS hot
      FROM {segs_view} s LEFT JOIN hot ON s.h = hot.h
    ),
    seg_stats AS (
      SELECT source,
             count(1) AS segs_total,
             sum(hot) AS segs_removed,
             sum(CASE WHEN hot = 1 THEN seg_chars ELSE 0 END) AS chars_removed,
             count(DISTINCT CASE WHEN hot = 1 THEN doc_id END) AS docs_touched
      FROM marked GROUP BY source
    ),
    base AS (
      SELECT source, CAST(count(1) AS BIGINT) AS n_docs
      FROM {docs_view} GROUP BY source
    )
    SELECT b.source AS source, n_docs,
           CAST(coalesce(docs_touched, 0) AS BIGINT) AS docs_touched,
           CAST(coalesce(segs_total, 0) AS BIGINT) AS segs_total,
           CAST(coalesce(segs_removed, 0) AS BIGINT) AS segs_removed,
           CAST(coalesce(chars_removed, 0) AS BIGINT) AS chars_removed
    FROM base b LEFT JOIN seg_stats s ON b.source <=> s.source
    ORDER BY b.source ASC NULLS FIRST
    """


@query(
    "text_boilerplate_segments",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(coalesce(text, ''), ' '),
                         x -> x <> '') AS t
      FROM documents
    ), segs AS (
      SELECT doc_id, source,
             array_to_string(t[(i-1)*4+1 : i*4], ' ') AS seg
      FROM toks, unnest(range(1, CAST((len(t)+3)//4 AS BIGINT)+1)) AS u(i)
    ), df AS (
      SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
    ), marked AS (
      SELECT s.doc_id, s.source, s.seg,
             CASE WHEN d.df >= 5 THEN 1 ELSE 0 END AS hot
      FROM segs s JOIN df d USING (seg)
    ), seg_stats AS (
      SELECT source,
             count(*) AS segs_total,
             sum(hot) AS segs_removed,
             sum(CASE WHEN hot = 1 THEN length(seg) ELSE 0 END)
               AS chars_removed,
             count(DISTINCT CASE WHEN hot = 1 THEN doc_id END)
               AS docs_touched
      FROM marked GROUP BY source
    ), base AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    )
    SELECT b.source,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(s.docs_touched, 0) AS BIGINT) AS docs_touched,
           CAST(coalesce(s.segs_total, 0) AS BIGINT) AS segs_total,
           CAST(coalesce(s.segs_removed, 0) AS BIGINT) AS segs_removed,
           CAST(coalesce(s.chars_removed, 0) AS BIGINT) AS chars_removed
    FROM base b LEFT JOIN seg_stats s
      ON b.source IS NOT DISTINCT FROM s.source
    ORDER BY b.source NULLS FIRST
    """,
    survey_ref="X4f (cross-document boilerplate span removal: CCNet/Dolma paragraph dedup)",
)
def text_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate span removal — the CCNet/Dolma paragraph-
    dedup stage, distinct from document-level dedup (X1/X2) and token-level
    stopword removal (X4): a SEGMENT that recurs across many documents
    (cookie banners, license headers, navigation chrome) is boilerplate and
    is stripped from every document it appears in, while each document's
    unique content survives. Segments here are non-overlapping 4-token
    spans (the fixtures are single-line space-tokenized text; on real
    corpora the segmenter splits on newline/sentence boundaries — same
    plan, different split expression). A span is boilerplate when its
    document frequency df >= 5: within-document repetition alone never
    triggers removal (df counts DISTINCT docs), matching CCNet semantics.

    Result is the per-source cleaning ledger (docs touched, segments and
    chars removed — exact integers), i.e. what a release audit publishes;
    the cleaned text itself is the same marked stream minus hot segments.

    Shape (100 TB): tokenize/segment is a narrow array expression; the df
    census shuffles 8-byte xxhash64 segment keys, never text; the hot set
    after the df >= 5 filter is tiny (boilerplate vocabulary, not corpus
    vocabulary) and broadcasts back onto the segment stream; the final
    groupBy(source) is dim-sized. The exploded (h, doc_id, source, len)
    stream — ~24 bytes/segment — is lazily localCheckpoint'ed so the two
    consumers (census build + mark probe) read ONE materialization: the
    hot-set broadcast job pays the segmenter once, the probe re-reads the
    checkpointed rows instead of re-reading and re-segmenting text (the
    round-6 plan paid the segmenter twice). DuckDB oracle groups raw
    segment strings; results
    agree unless two distinct segments collide in xxhash64 (none at test
    SFs; at corpus scale a collision merely overstates one df count —
    acceptable for a boilerplate detector, per the registry's sketch
    rulebook note on engine-internal keys).
    """
    d = load_table(spark, sf_dir, "documents")
    # TWO spark.sql statements around the lazy checkpoint (r14, guide §1.2
    # step 2 — the one-parse technique of dedup._pairs_sql_from_collapsed):
    # a Column composition created ~15 eagerly-analyzed Datasets, each
    # re-walking the segmenter forest — ~0.56 s of pure driver-side
    # construction per build at sf0.1, the bulk of this entry.
    segs = spark.sql(_boiler_occurrence_sql("{docs}"), docs=d)
    # ONE traversal for both consumers: the lazy checkpoint truncates
    # lineage at the exploded narrow stream, so the census (hot-set
    # broadcast job) materializes it and the mark probe reads the stored
    # rows — text is read and segmented exactly once. eager=False keeps
    # query construction job-free (the driver contract builds plans before
    # acting). A query transient: its blocks stay stored until the JVM
    # collects the result DataFrame (memo.checkpoint's accepted failure
    # mode, pinned in tests/test_memo.py). The census derives
    # from the SAME occurrence stream the mark pass consumes (an A/B test
    # measured 0.76 s vs 2.11 s for an array-column census at sf0.1); the
    # checkpoint upgrades "one shape" to "one execution".
    return spark.sql(
        _boiler_ledger_sql("{docs}", "{segs}"),
        docs=d,
        segs=checkpoint(segs, eager=False),
    )


def _boiler_clean_sql(docs_view: str) -> str:
    """The per-document cleaned-corpus reconstruction as one statement
    (see text_boilerplate_clean for why). Segments are built in a
    two-step token/segment projection so the segmenter never re-evaluates
    per reference; the size(t) = 0 branch dodges Spark's DESCENDING
    sequence(1, 0) trap on empty documents. The df census counts hashes
    deduped WITHIN each doc by a narrow array_distinct, so df is a plain
    map-side-combined count — ONE 8-byte-key exchange, never an
    (h, doc_id) distinct shuffle."""
    W = _BOILER_W
    seg_arr = (
        f"CASE WHEN size(t) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, CAST(floor((size(t) + {W - 1}) / {W}) AS INT)), "
        f"i -> array_join(slice(t, (i - 1) * {W} + 1, {W}), ' ')) END"
    )
    kept = "filter(segs, s -> NOT array_contains(hot_set, xxhash64(s)))"
    return f"""
    WITH toked AS (
      SELECT doc_id, {_boiler_toks_sql('text')} AS t FROM {docs_view}
    ),
    segged AS (
      SELECT doc_id, {seg_arr} AS segs FROM toked
    ),
    hot AS (
      SELECT collect_set(h) AS hot_set FROM (
        SELECT h FROM (
          SELECT h, count(1) AS df FROM (
            SELECT explode(array_distinct(transform(segs, s -> xxhash64(s)))) AS h
            FROM segged
          ) GROUP BY h
        ) WHERE df >= {_BOILER_TAU}
      )
    )
    SELECT /*+ BROADCAST(hot) */
           doc_id,
           CAST(size(segs) AS BIGINT) AS n_segs,
           CAST(size(segs) - size({kept}) AS BIGINT) AS n_removed,
           array_join({kept}, ' ') AS cleaned_text
    FROM segged CROSS JOIN hot
    ORDER BY doc_id
    """


@query(
    "text_boilerplate_clean",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(coalesce(text, ''), ' '),
                         x -> x <> '') AS t
      FROM documents
    ), doc_segs AS (
      SELECT doc_id,
             list_transform(range(1, CAST((len(t)+3)//4 AS BIGINT)+1),
                            i -> array_to_string(t[(i-1)*4+1 : i*4], ' '))
               AS segs
      FROM toks
    ), df AS (
      SELECT seg, count(DISTINCT doc_id) AS df
      FROM doc_segs, unnest(segs) AS u(seg) GROUP BY seg
    ), hot AS (
      SELECT coalesce(list(seg), CAST([] AS VARCHAR[])) AS hot_set
      FROM df WHERE df >= 5
    )
    SELECT d.doc_id,
           CAST(len(segs) AS BIGINT) AS n_segs,
           CAST(len(segs)
                - len(list_filter(segs,
                                  s -> NOT list_contains(h.hot_set, s)))
                AS BIGINT) AS n_removed,
           coalesce(array_to_string(
             list_filter(segs, s -> NOT list_contains(h.hot_set, s)),
             ' '), '') AS cleaned_text
    FROM doc_segs d, hot h
    ORDER BY doc_id
    """,
    survey_ref="X4f (boilerplate removal: per-document cleaned-text reconstruction)",
)
def text_boilerplate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped half of boilerplate removal: text_boilerplate_segments
    publishes the per-source audit ledger; this op emits the CLEANED
    CORPUS itself — every document with its hot (df >= _BOILER_TAU)
    segments stripped and the survivors re-joined in original order.
    Same segmenter, same threshold (shared _BOILER_W/_BOILER_TAU
    constants), so the ledger exactly audits this cleaning.

    Shape (100 TB): the cleaning pass shuffles no text — documents are
    never exploded on the output path. The df census (the only
    hashpartitioning exchange) shuffles 8-byte xxhash64 keys, already
    deduped WITHIN each doc by a narrow array_distinct so a plain
    map-side-combined count gives document frequency; the hot set folds
    to ONE broadcast row carrying the boilerplate vocabulary hashes
    (tiny by construction), and the clean pass is a narrow per-row
    array filter: segment, drop hot, array_join — position order
    preserved natively by filter(), no posexplode/re-sort/groupBy round
    trip. The final ORDER BY doc_id is presentation-only (the driver
    comparator is order-insensitive) — a shard writer drops it. Empty
    docs survive as empty cleaned_text (the size()==0 guard dodges
    Spark's descending sequence(1,0) trap; the oracle coalesces DuckDB's
    array_to_string([]) = NULL to '' to match Spark's array_join([]) =
    '' — a live cross-engine divergence the edge suite caught). DuckDB filters raw segment strings while Spark
    filters 64-bit hashes — identical results absent an xxhash64
    collision (none at test SFs; at corpus scale a collision drops one
    innocent segment — the standard hashed-vocabulary trade, documented
    in the ledger query)."""
    d = load_table(spark, sf_dir, "documents")
    # ONE spark.sql (r14, same rationale as the ledger): a Column
    # composition was ~0.30 s of driver-side construction per build.
    return spark.sql(_boiler_clean_sql("{docs}"), docs=d)
