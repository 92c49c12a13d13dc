"""Corpus-curation operators: PII scanning, LM-rarity profiling,
incremental dedup, and embedding-label evaluation.

These are the remaining curation stages a large-scale training-data pipeline
runs between raw ingest and packing (the reference has no analog — its
validation is per-row field checks, ``/root/reference/pipeline/
bronze_to_silver.py:30-70``; these generalize that idea to corpus level):

* ``pii_scan_stats`` — regex PII detection + redaction audit, the
  compliance pre-filter. Pure JVM ``regexp_extract_all``/``regexp_replace``,
  map-only, no shuffle: at 100 TB this is scan-bound and embarrassingly
  parallel.
* ``doc_token_rarity`` — the KenLM/CCNet-shaped quality signal without
  shipping a language model: per-document aggregate corpus-frequency of its
  tokens. Two shuffles (vocab count, per-doc regroup); the vocab join is
  Zipf-skewed, which AQE skew-join handles (hot stopword tokens split).
  All outputs are exact integers so the DuckDB oracle hashes identically.
* ``incremental_dedup_new_batch`` — dedup an incoming batch against an
  existing corpus by content hash: the streaming/append form of
  ``exact_dedup_documents``. Only (hash, id) pairs move; the corpus text is
  never reshuffled, so cost scales with batch + corpus-hash size, not
  corpus bytes.
* ``knn_label_accuracy`` — leave-one-out kNN majority-vote evaluation over
  the embedding table: the standard "are these embeddings any good"
  diagnostic. Composes the existing ``brute_force_topk`` rank contract with
  two bounded label joins; the scale path swaps in ``ivf_topk`` unchanged
  because both emit the same (qid, cid, rank) shape.

Cross-engine discipline (same rules as ``tokenization.py``): regexes use
constructs with identical semantics in Java regex and RE2 (character
classes, bounded repeats, ``\\b``), outputs are integers/booleans/strings —
never floats — and every aggregate is CAST to BIGINT because DuckDB types
integer SUMs as HUGEINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..operators.similarity import brute_force_topk
from ..sources.readers import load_table
from .pinned_sql import centroid_argmax, sql_double
from .registry import register

# --------------------------------------------------------------------------- #
# PII scan + redaction audit.
# --------------------------------------------------------------------------- #

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\b\d{3}-\d{3,4}-\d{4}\b"

_PII_ORACLE = rf"""
SELECT
  doc_id,
  CAST(len(regexp_extract_all(lower(text), '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(lower(text), '{_IPV4_RE}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(lower(text), '{_PHONE_RE}')) AS BIGINT) AS n_phones,
  len(regexp_extract_all(lower(text), '{_EMAIL_RE}')) = 0
    AND len(regexp_extract_all(lower(text), '{_IPV4_RE}')) = 0
    AND len(regexp_extract_all(lower(text), '{_PHONE_RE}')) = 0 AS pii_free,
  CAST(length(regexp_replace(regexp_replace(regexp_replace(lower(text),
        '{_EMAIL_RE}', '<EMAIL>', 'g'),
        '{_IPV4_RE}', '<IP>', 'g'),
        '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
FROM documents
"""


@register("pii_scan_stats", oracle=_PII_ORACLE, tags=("text", "curation"))
def pii_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII audit: email/IPv4/phone match counts, a pii_free
    flag, and the post-redaction length (masks applied in a fixed order so
    both engines rewrite identical spans). Map-only JVM regex — the plan is
    a single scan with no exchange."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(low, _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    n = lambda pat: F.size(F.regexp_extract_all(low, F.lit(pat), 0)).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        n(_EMAIL_RE).alias("n_emails"),
        n(_IPV4_RE).alias("n_ipv4"),
        n(_PHONE_RE).alias("n_phones"),
        (
            (F.size(F.regexp_extract_all(low, F.lit(_EMAIL_RE), 0)) == 0)
            & (F.size(F.regexp_extract_all(low, F.lit(_IPV4_RE), 0)) == 0)
            & (F.size(F.regexp_extract_all(low, F.lit(_PHONE_RE), 0)) == 0)
        ).alias("pii_free"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


# --------------------------------------------------------------------------- #
# Corpus-frequency rarity profile (LM-quality proxy, exact integers).
# --------------------------------------------------------------------------- #

_RARITY_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
SELECT
  t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(c.c) AS BIGINT) AS corpus_count_sum,
  CAST(SUM(CASE WHEN c.c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_tokens
FROM toks t JOIN counts c ON t.tok = c.tok
GROUP BY t.doc_id
"""


@register("doc_token_rarity", oracle=_RARITY_ORACLE, tags=("text", "training"))
def doc_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rarity profile against the corpus unigram table: token
    count, summed corpus frequency of its tokens, and how many tokens are
    corpus-rare (frequency ≤ 2) — the integer-exact core of a KenLM-style
    quality filter (mean log-frequency is a consumer-side division away).

    Plan shape: one shuffle builds the vocab counts, the tokens⋈vocab join
    runs under AQE (vocab is Heaps-law-sublinear in corpus size and heavily
    Zipf-skewed — AQE splits the stopword-heavy partitions), and one shuffle
    regroups by document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("corpus_count_sum"),
            F.sum(F.when(F.col("c") <= 2, 1).otherwise(0)).alias("n_rare_tokens"),
        )
    )


# --------------------------------------------------------------------------- #
# Bigram language-model perplexity (the conditional upgrade of the rarity
# profile above — the KenLM/CCNet scoring signal with an actual LM).
# --------------------------------------------------------------------------- #

_LM_K = 0.5  # add-k smoothing constant

_LM_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
big AS (
  SELECT doc_id, ws[i.i] AS w1, ws[i.i+1] AS w2
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) i
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
v AS (
  SELECT COUNT(DISTINCT tok) AS vocab
  FROM (SELECT unnest(ws) AS tok FROM w)
),
s AS (
  SELECT b.doc_id,
         CAST(log2((c2.c2 + {_LM_K}) / (c1.c1 + {_LM_K} * v.vocab))
              AS DECIMAL(20,9)) AS lp
  FROM big b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         -(CAST(SUM(lp) AS DOUBLE) / COUNT(*)) AS h
  FROM s GROUP BY doc_id
)
SELECT doc_id, n_bigrams, h AS cross_entropy,
       round(power(2, h), 6) AS perplexity
FROM agg
"""


@register(
    "doc_lm_perplexity", oracle=_LM_ORACLE, tags=("text", "training", "bench")
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity: train an add-k-smoothed bigram
    model on the corpus in one pass, score every document against it —
    the CCNet quality-filter shape (they score against a KenLM 5-gram;
    the operator pipeline is identical, the model order is a parameter).
    P(w2|w1) = (C(w1,w2)+k) / (C(w1·)+k·|V|), per-doc cross-entropy is the
    mean −log2 P over its bigram OCCURRENCES (a multiset, unlike the
    set-based dedup shingles), perplexity = 2^H.

    Plan shape at 100 TB: the model is two vocabulary-sized aggregates
    (bigram counts, then left-context sums folded FROM the bigram table —
    never a second corpus scan); scoring joins each bigram occurrence to the
    model under AQE (Zipf-skewed keys split at runtime) and regroups by
    document. |V| rides along as a broadcast 1-row aggregate, keeping the
    whole thing one lazy DAG — no driver-side count.

    Cross-engine float discipline (the money-module rule applied to logs):
    a double SUM of per-bigram log terms is summation-order-dependent, and
    at sf0.1 the accumulated ulps crossed the gate's 12-significant-digit
    rounding (measured: 3 215 of 50 000 rows off in the last ulp). So each
    log term is quantized to DECIMAL(20,9) — identical rounding of
    identical doubles in both engines, irrational values never tie — and
    summed EXACTLY (order-independent), then one identical cast + division
    yields a bit-identical cross-entropy everywhere. perplexity = 2^H is
    rounded to 6 decimals as part of the contract because pow() is the one
    remaining op where libms may differ in the last ulp; at 1e-6 spacing a
    boundary-crossing disagreement needs the pow outputs to straddle a
    grid line (~1e-9/row odds) instead of any of 12 significant digits."""
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
    big = ws.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ws", 1, F.size("ws") - 1).alias("a"),
                F.slice("ws", 2, F.size("ws") - 1).alias("b"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = ws.select(F.explode("ws").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    lp = F.log2(
        (F.col("c2") + F.lit(_LM_K)) / (F.col("c1") + F.lit(_LM_K) * F.col("vocab"))
    ).cast("decimal(20,9)")
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    h = -(F.sum("lp").cast("double") / F.count(F.lit(1)))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        h.alias("cross_entropy"),
        F.bround(F.pow(F.lit(2.0), h), 6).alias("perplexity"),
    )


# --------------------------------------------------------------------------- #
# Capped-model perplexity — the 100 TB form of the bigram LM above.
# --------------------------------------------------------------------------- #

_LM_CAP_K = 512   # heavy-hitter model size: top-K bigrams by (count, w1, w2)
_LM_ALPHA = 0.4   # stupid-backoff weight (Brants et al. 2007, "Large Language
#                   Models in Machine Translation") for bigrams outside the cap

_LM_CAPPED_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
big AS (
  SELECT doc_id, ws[i.i] AS w1, ws[i.i+1] AS w2
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) i
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
cap AS (
  SELECT w1, w2, c2 FROM (
    SELECT w1, w2, c2,
           ROW_NUMBER() OVER (ORDER BY c2 DESC, w1, w2) AS rk
    FROM c2
  ) WHERE rk <= {_LM_CAP_K}
),
capm AS (SELECT cap.w1, cap.w2, cap.c2, c1.c1 FROM cap JOIN c1 USING (w1)),
u AS (
  SELECT tok, COUNT(*) AS cu
  FROM (SELECT unnest(ws) AS tok FROM w) GROUP BY tok
),
nv AS (SELECT SUM(cu) AS n, COUNT(*) AS vocab FROM u),
s AS (
  SELECT b.doc_id,
         CAST(log2(CASE WHEN m.c2 IS NOT NULL
              THEN (m.c2 + {_LM_K}) / (m.c1 + {_LM_K} * nv.vocab)
              -- CAST: a bare 0.4 literal is DECIMAL in DuckDB (exact
              -- multiply) while Spark multiplies doubles; forcing DOUBLE
              -- makes both engines round the alpha product identically.
              ELSE CAST({_LM_ALPHA} AS DOUBLE) * (u.cu + {_LM_K}) / (nv.n + {_LM_K} * nv.vocab)
              END) AS DECIMAL(20,9)) AS lp,
         CASE WHEN m.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM big b
  LEFT JOIN capm m ON b.w1 = m.w1 AND b.w2 = m.w2
  JOIN u ON b.w2 = u.tok
  CROSS JOIN nv
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(hit) AS BIGINT) AS n_capped_hits,
         -(CAST(SUM(lp) AS DOUBLE) / COUNT(*)) AS h
  FROM s GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_capped_hits, h AS cross_entropy,
       round(power(2, h), 6) AS perplexity
FROM agg
"""


@register(
    "doc_lm_perplexity_capped",
    oracle=_LM_CAPPED_ORACLE,
    tags=("text", "training", "bench"),
)
def doc_lm_perplexity_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_lm_perplexity`` with the CAPPED model SCALE.md prescribes for a
    real corpus: the exact variant's bigram table is the one object whose
    size is corpus-shaped (Zipf tail), so here the model is the top-K
    bigrams by (count DESC, w1, w2) — a FIXED-size heavy-hitter table
    (K={512}) whatever the corpus — and every bigram outside the cap backs
    off to the unigram term with the stupid-backoff weight α=0.4 (Brants et
    al. 2007). The deterministic total order makes the cap replayable: the
    DuckDB oracle selects the identical K rows and the gate hash-checks the
    two-branch scoring end-to-end (n_capped_hits pins the branch split).

    Plan shape at 100 TB: one bigram aggregate (map-side partials), then
    TakeOrderedAndProject computes the top-K distributively (per-partition
    partial top-K, never a single-partition global window); the K-row model
    (with its left-context totals pre-attached) BROADCASTS into the scoring
    join, so the corpus-shaped bigram table never enters a join — the only
    non-broadcast scoring join is the vocab-sized (Heaps-sublinear,
    AQE-skew-split) unigram lookup the backoff term needs. In production
    the candidate generation composes with ``frequent_bigrams``'s
    guaranteed-recall per-partition pass to bound even the aggregate's
    shuffle to candidate size.

    Float discipline: identical to ``doc_lm_perplexity`` — integer-plus-
    exact-half smoothing operands, one identically-rounded IEEE division
    per term (the backoff branch adds one α product of identical doubles),
    DECIMAL(20,9)-quantized log terms summed exactly so the per-doc sum is
    summation-order-independent in both engines."""
    return lm_perplexity_capped_scores(load_table(spark, sf_dir, "documents"))


def lm_perplexity_capped_scores(
    docs: DataFrame, k: int = _LM_CAP_K
) -> DataFrame:
    """The capped-model scorer behind ``doc_lm_perplexity_capped`` as a
    reusable operator (``trainprep``'s --max-perplexity stage trains on and
    scores the in-flight corpus). Input needs (doc_id, text); returns
    (doc_id, n_bigrams, n_capped_hits, cross_entropy, perplexity).
    Deterministic given the corpus — no randomness, total-ordered cap."""
    ws = docs.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
    big = ws.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ws", 1, F.size("ws") - 1).alias("a"),
                F.slice("ws", 2, F.size("ws") - 1).alias("b"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # Distributed top-K: orderBy+limit plans as TakeOrderedAndProject.
    cap = c2.orderBy(F.col("c2").desc(), "w1", "w2").limit(k)
    capm = F.broadcast(cap).join(c1, "w1").select("w1", "w2", "c2", "c1")
    u = ws.select(F.explode("ws").alias("w2")).groupBy("w2").agg(
        F.count(F.lit(1)).alias("cu")
    )
    nv = u.agg(
        F.sum("cu").alias("n"), F.count(F.lit(1)).alias("vocab")
    )
    seen = F.col("c2").isNotNull()
    lp = F.log2(
        F.when(
            seen,
            (F.col("c2") + F.lit(_LM_K)) / (F.col("c1") + F.lit(_LM_K) * F.col("vocab")),
        ).otherwise(
            F.lit(_LM_ALPHA)
            * (F.col("cu") + F.lit(_LM_K))
            / (F.col("n") + F.lit(_LM_K) * F.col("vocab"))
        )
    ).cast("decimal(20,9)")
    scored = (
        big.join(F.broadcast(capm), ["w1", "w2"], "left_outer")
        .join(u, "w2")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            lp.alias("lp"),
            F.when(seen, 1).otherwise(0).alias("hit"),
        )
    )
    h = -(F.sum("lp").cast("double") / F.count(F.lit(1)))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("hit").cast("long").alias("n_capped_hits"),
        h.alias("cross_entropy"),
        F.bround(F.pow(F.lit(2.0), h), 6).alias("perplexity"),
    )


# --------------------------------------------------------------------------- #
# Incremental dedup: new batch vs existing corpus.
# --------------------------------------------------------------------------- #

_BATCH_SPLIT_ID = 250  # documents below are "the corpus", at/above "the batch"

_INCR_DEDUP_ORACLE = f"""
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
corpus AS (SELECT DISTINCT h FROM h WHERE doc_id < {_BATCH_SPLIT_ID}),
batch AS (SELECT doc_id, h FROM h WHERE doc_id >= {_BATCH_SPLIT_ID}),
firsts AS (SELECT h, MIN(doc_id) AS first_id FROM batch GROUP BY h)
SELECT b.doc_id,
       CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM batch b
LEFT JOIN corpus c ON b.h = c.h
JOIN firsts f ON b.h = f.h
"""


@register(
    "incremental_dedup_new_batch", oracle=_INCR_DEDUP_ORACLE, tags=("dedup",)
)
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-time exact dedup: classify each incoming-batch document as
    kept, duplicate-of-corpus, or duplicate-within-batch (first occurrence
    by doc_id wins, so replays are deterministic).

    This is ``exact_dedup_documents`` reshaped for incremental ingest: the
    corpus side is reduced to DISTINCT md5 hashes before the join, so the
    shuffle carries (hash[, id]) — never corpus text — and cost scales with
    |batch| + |corpus hash set| regardless of corpus bytes. At 100 TB the
    corpus hash set is itself a maintained table (the txn layer's MERGE
    keeps it current) rather than recomputed; the join shape is identical."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    corpus = docs.filter(F.col("doc_id") < _BATCH_SPLIT_ID).select("h").distinct()
    batch = docs.filter(F.col("doc_id") >= _BATCH_SPLIT_ID)
    firsts = batch.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    in_corpus = corpus.withColumn("in_corpus", F.lit(True))
    return (
        batch.join(in_corpus, "h", "left_outer")
        .join(firsts, "h")
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), "dup_of_corpus")
            .when(F.col("doc_id") != F.col("first_id"), "dup_in_batch")
            .otherwise("kept")
            .alias("status"),
        )
    )


# --------------------------------------------------------------------------- #
# Incremental dedup behind a Bloom prefilter of the corpus hash set.
# --------------------------------------------------------------------------- #

_INCR_BLOOM_ORACLE = f"""
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
corpus AS (SELECT DISTINCT h FROM h WHERE doc_id < {_BATCH_SPLIT_ID}),
bloom AS (
  SELECT DISTINCT j.j,
         substr(md5(CAST(j.j AS VARCHAR) || '|' || h), 1, 4) AS pos
  FROM corpus, (SELECT unnest([0, 1, 2]) AS j) j
),
batch AS (SELECT doc_id, h FROM h WHERE doc_id >= {_BATCH_SPLIT_ID}),
probe AS (
  SELECT b.doc_id, COUNT(*) AS hits
  FROM batch b, (SELECT unnest([0, 1, 2]) AS j) j
  JOIN bloom f
    ON f.j = j.j
   AND f.pos = substr(md5(CAST(j.j AS VARCHAR) || '|' || b.h), 1, 4)
  GROUP BY b.doc_id
)
SELECT b.doc_id,
  CASE WHEN COALESCE(p.hits, 0) = 3
         THEN CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                   ELSE 'kept_bloom_fp' END
       ELSE 'kept' END AS status
FROM batch b
LEFT JOIN probe p ON b.doc_id = p.doc_id
LEFT JOIN corpus c ON b.h = c.h
"""


@register(
    "incremental_dedup_bloom", oracle=_INCR_BLOOM_ORACLE, tags=("dedup", "sketch")
)
def incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_dedup_new_batch``'s corpus join, pushed behind the
    replayable Bloom prefilter (operators/bloom.py): the corpus side is
    represented ONLY by its Bloom filter — the distinct (hash-row,
    md5-prefix) position set, which SATURATES at k·16^4 = 196 608 4-char
    rows however many billions of hashes the corpus holds — and only the
    Bloom candidates pay the exact verify join against the corpus hash set.
    Statuses: ``dup_of_corpus`` (candidate, verified), ``kept_bloom_fp``
    (candidate, verify cleared it), ``kept`` (Bloom-rejected map-side —
    guaranteed clean, no join ever touches these rows).

    This is the 100 TB append-ingest shape: the filter is broadcast state
    maintained next to the corpus hash table (inserts are idempotent
    position adds; merge = DISTINCT union), the whole batch is screened
    map-side, and the exact join — the only exchange that involves the
    corpus — carries candidates alone. No false negatives by construction
    (tested against the exact classifier); the DuckDB oracle rebuilds the
    identical filter bits, so candidate selection is hash-certified.
    Within-batch dedup is a separate downstream stage (see
    ``incremental_dedup_new_batch``) and is deliberately not repeated here."""
    from ..operators.bloom import BLOOM_K, bloom_build, bloom_mark

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    corpus = docs.filter(F.col("doc_id") < _BATCH_SPLIT_ID).select("h").distinct()
    batch = docs.filter(F.col("doc_id") >= _BATCH_SPLIT_ID)
    marked = bloom_mark(batch, "h", bloom_build(corpus, "h"), out_col="_hits")
    passed = F.col("_hits") == BLOOM_K
    in_corpus = corpus.withColumn("in_corpus", F.lit(True))
    cands = (
        marked.filter(passed)
        .join(in_corpus, "h", "left_outer")
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), "dup_of_corpus")
            .otherwise("kept_bloom_fp")
            .alias("status"),
        )
    )
    clean = marked.filter(~passed).select("doc_id", F.lit("kept").alias("status"))
    return cands.unionByName(clean)


# --------------------------------------------------------------------------- #
# kNN majority-vote label evaluation (leave-one-out).
# --------------------------------------------------------------------------- #

_KNN_EVAL_ORACLE = """
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (SELECT vec_id, label, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
p AS (
  SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS cid, c.label AS clabel,
         list_sum(list_transform(list_zip(q.e, c.e), t -> t[1] * t[2]))
           / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON q.vec_id < 32 AND q.vec_id <> c.vec_id
),
r AS (
  SELECT qid, qlabel, clabel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
  FROM p
),
votes AS (
  SELECT qid, qlabel, clabel, COUNT(*) AS n_votes
  FROM r WHERE rank <= 5 GROUP BY qid, qlabel, clabel
),
best AS (
  SELECT qid, qlabel, clabel, n_votes,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY n_votes DESC, clabel
         ) AS rn
  FROM votes
)
SELECT qid, qlabel AS true_label, clabel AS knn_label,
       CAST(n_votes AS BIGINT) AS n_votes,
       clabel = qlabel AS is_correct
FROM best WHERE rn = 1
"""


@register("knn_label_accuracy", oracle=_KNN_EVAL_ORACLE, tags=("similarity", "eval"))
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN majority-vote label prediction for vectors
    vec_id < 32 — the standard embedding-quality diagnostic (majority ties
    break on the smaller label, rank ties on the smaller cid, so the vote
    is deterministic cross-engine).

    Composes the ``brute_force_topk`` rank contract with two label joins;
    the neighbor table is k·|queries| rows, so both joins broadcast. The
    100-TB path swaps ``brute_force_topk`` for ``ivf_topk``/
    ``ivf_topk_bucketed`` unchanged — same (qid, cid, rank) shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 32)
    topk = brute_force_topk(queries, emb, id_col="vec_id", vec_col="embedding", k=5)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("cid"), F.col("label").alias("clabel")
            ),
            "cid",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
            ),
            "qid",
        )
        .groupBy("qid", "qlabel", "clabel")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("clabel")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            F.col("qlabel").alias("true_label"),
            F.col("clabel").alias("knn_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
            (F.col("clabel") == F.col("qlabel")).alias("is_correct"),
        )
    )


# --------------------------------------------------------------------------- #
# Source-level corpus health report.
# --------------------------------------------------------------------------- #

_SOURCE_REPORT_ORACLE = """
SELECT
  source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY source
"""


@register("source_curation_report", oracle=_SOURCE_REPORT_ORACLE, tags=("curation",))
def source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health: volume, exact-dup rate (distinct content
    hashes vs rows), language spread, and size envelope — the dashboard
    aggregate a curation pipeline computes after every ingest. One shuffle
    on source with map-side partials; the two DISTINCTs share the same
    Expand-based plan Catalyst builds for multi-distinct aggregates, so the
    corpus is still read once."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_exact_dups"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --------------------------------------------------------------------------- #
# k-means cluster profile against the pinned seeded model (hash-checked).
# --------------------------------------------------------------------------- #


def _cluster_sizes_oracle() -> str:
    """Argmax-dot assignment against the pinned centroid matrix in DuckDB.

    Cosine argmax equals dot argmax (L2 normalization scales every dot by
    the same positive factor), so the oracle skips the normalize step; the
    CASE is ``pinned_sql.centroid_argmax``'s first-max-wins chain.

    Numerical assumption: the two engines sum the dot in different orders
    (Spark BLAS over the normalized vector vs DuckDB list_dot_product over
    the raw vector), so an argmax near-tie could round to different winners.
    tools/pin_centroids.py guards this at pin time — it refuses to export a
    model whose minimum relative top-2 margin over the gate corpus is within
    a few hundred ulps of float64."""
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8 as cent

    am = centroid_argmax(
        cent, lambda lits: f"list_dot_product(CAST(embedding AS DOUBLE[]), {lits})"
    )
    return f"""
WITH dots AS (
  SELECT {am.dots}
  FROM embeddings
),
assigned AS (
  SELECT {am.case} AS centroid
  FROM dots
)
SELECT CAST(centroid AS BIGINT) AS centroid, COUNT(*) AS n_vectors
FROM assigned
GROUP BY centroid
"""


@register(
    "embedding_cluster_sizes",
    oracle=_cluster_sizes_oracle(),
    tags=("similarity", "ml"),
)
def embedding_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size profile: every embedding assigned (Arrow-batched BLAS
    argmax, map-only) to the PINNED seeded k-means model and counted — one
    model-sized broadcast plus a k-row shuffle, nothing corpus-sized moves.

    The model is the full-corpus distributed spherical k-means fit
    (operators/kmeans.py: Lloyd's as DataFrame aggs) exported once by
    tools/pin_centroids.py into plans/_pinned_centroids.py; pinning it lets
    the DuckDB oracle replay the identical assignment, making this
    hash-checked instead of rows-only. The live fit's exact properties —
    blob recovery, monotone inertia, determinism, and agreement with the
    pinned matrix — are asserted in tests/test_kmeans.py."""
    import numpy as np

    from ..operators.similarity import _assign_udf, to_double_array
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8

    cent = np.array(_CLUSTER_CENTROIDS_K8, dtype=np.float64)
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(to_double_array("embedding").alias("v"))
        .withColumn("centroid", _assign_udf(cent)(F.col("v")))
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(F.col("centroid").cast("long").alias("centroid"), "n_vectors")
    )


# --------------------------------------------------------------------------- #
# PCA projection against the pinned exact-moment model (hash-checked).
# --------------------------------------------------------------------------- #


def _pca_projection_oracle() -> str:
    """Unrolled (x − μ)·w per component in DuckDB. Each coordinate is the
    LEFT-ASSOCIATED 64-term sum written in index order — the Spark side
    builds the identical expression chain, so both engines execute the
    same IEEE operation sequence and the emitted doubles are bit-equal
    (no summation-order slack to guard, unlike the BLAS bulk path)."""
    from ._pinned_pca import _PCA_COMPONENTS, _PCA_MEAN

    pcs = ",\n       ".join(
        " + ".join(
            f"(CAST(embedding[{j + 1}] AS DOUBLE) - {sql_double(_PCA_MEAN[j])})"
            f" * {sql_double(w[j])}"
            for j in range(len(_PCA_MEAN))
        )
        + f" AS pc{i + 1}"
        for i, w in enumerate(_PCA_COMPONENTS)
    )
    return f"""
SELECT vec_id, {pcs}
FROM embeddings
"""


@register(
    "embedding_pca_projection",
    oracle=_pca_projection_oracle(),
    tags=("similarity", "ml", "compression"),
)
def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding projected onto the PINNED top-4 principal
    components — the dimensionality-reduction apply pass a curation
    pipeline runs before cheap downstream similarity / visualization.
    Map-only whole-stage-codegen expressions (no Python, no shuffle): each
    coordinate is the unrolled left-associated Σ_j (x_j − μ_j)·w_j, the
    form whose IEEE sequence the DuckDB oracle replays exactly.

    The model is the exact-moment distributed fit (operators/pca.py:
    fit_pca — one mapInArrow pass for (n, Σx, ΣxxT), eigh on the driver)
    exported by tools/pin_pca.py into plans/_pinned_pca.py;
    tests/test_pca.py asserts the pinned values still match a fresh fit
    AND that this expression path agrees with transform_pca's BLAS bulk
    route. At 100 TB the projection is a pure scan-side map — the fit's
    driver traffic is one (d + d²)-number partial per partition."""
    from ._pinned_pca import _PCA_COMPONENTS, _PCA_MEAN

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    cols = []
    for i, w in enumerate(_PCA_COMPONENTS):
        expr = None
        for j in range(len(_PCA_MEAN)):
            t = (
                F.element_at(v, j + 1).cast("double") - F.lit(_PCA_MEAN[j])
            ) * F.lit(w[j])
            expr = t if expr is None else expr + t
        cols.append(expr.alias(f"pc{i + 1}"))
    return emb.select("vec_id", *cols)


# --------------------------------------------------------------------------- #
# SemDeDup: semantic dedup via pinned clusters + intra-cluster cosine.
# --------------------------------------------------------------------------- #

_SEMDEDUP_TAU = 0.4


def _sem_aff_cte() -> str:
    """The shared DuckDB CTE prefix both SemDeDup oracles build on: raw
    vectors widened to double, sequential-fold dots against the pinned
    centroid literals (list_sum over list_zip ≡ Spark's
    ``F.aggregate``/``zip_with`` fold — bit-equal doubles, so the argmax
    CASE needs no margin assumption), first-max-wins assignment, and the
    affinity-to-centroid metric."""
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8 as cent

    k = len(cent)
    am = centroid_argmax(
        cent,
        lambda lits: f"list_sum(list_transform(list_zip(e, {lits}), t -> t[1] * t[2]))",
    )
    aff_whens = "\n    ".join(
        f"WHEN centroid = {i} THEN d{i} / nrm" for i in range(k)
    )
    dcols = ", ".join(f"d{i}" for i in range(k))
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
d AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
         {am.dots}
  FROM v
),
assigned AS (
  SELECT vec_id, e, nrm,
         {am.case} AS centroid,
         {dcols}
  FROM d
),
aff AS (
  SELECT vec_id, e, nrm, centroid,
         CASE
    {aff_whens}
    END AS affinity
  FROM assigned
)"""


def _sem_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared Spark prefix of the SemDeDup queries: every vector with
    its double array, norm, pinned-centroid assignment (first-max-wins over
    sequential-fold dots — bit-equal to the oracle's list_sum fold), and
    affinity-to-centroid. Columns: vec_id, e, nrm, centroid, affinity.

    Round 15 (guide §4.2): the former column-expression form ran k+1
    ``aggregate``/``zip_with`` folds per row — CodegenFallback, INTERPRETED
    per element, ~1 ms·core/row, 2.3 s single-task at sf0.1 (the embeddings
    parquet is one row group). This mapInPandas twin does the identical
    IEEE arithmetic vectorized: elementwise double products, the strictly
    sequential ``np.add.accumulate`` running sum (bit-equal to the fold's
    left-to-right order, zero-seeded like the fold), correctly-rounded
    sqrt, the same first-max-wins >= comparisons, one division. Bit-equal
    output — oracle hashes unchanged at sf0.001/0.01/0.1 — at scan-side
    Arrow speed (0.3 s), no exchange added. At 100 TB this is the same
    shape as the PCA/IVF projection stages: a per-split Arrow map."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.vectors import fold_sum
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8 as cent

    k = len(cent)
    cmat = np.array(cent, dtype=np.float64)  # (k, d)

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                # Guard BEFORE np.stack: stacking zero arrays raises
                # (ADVICE r15) — an empty batch simply yields nothing.
                continue
            e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)  # (n, d)
            n = e.shape[0]
            # Sequential-fold dot against each centroid and the self-norm:
            # products are exact IEEE doubles; fold_sum is the fold's
            # left-to-right order with the same 0.0 seed.
            d = np.empty((n, k), dtype=np.float64)
            for i in range(k):
                d[:, i] = fold_sum(e * cmat[i])
            nrm = np.sqrt(fold_sum(e * e))
            # First-max-wins argmax: centroid i iff d_i >= every LATER d_j
            # (ties to the earlier index), exactly the CASE pyramid's order.
            centroid = np.full(n, k - 1, dtype=np.int32)
            unassigned = np.ones(n, dtype=bool)
            for i in range(k - 1):
                wins = unassigned & np.all(d[:, i : i + 1] >= d[:, i + 1 :], axis=1)
                centroid[wins] = i
                unassigned &= ~wins
            affinity = d[np.arange(n), centroid] / nrm
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "e": list(e),
                    "nrm": nrm,
                    "centroid": centroid,
                    "affinity": affinity,
                }
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInPandas(
        _score,
        schema=StructType(
            [
                StructField("vec_id", LongType()),
                StructField("e", ArrayType(DoubleType())),
                StructField("nrm", DoubleType()),
                StructField("centroid", IntegerType()),
                StructField("affinity", DoubleType()),
            ]
        ),
    )


def _semdedup_oracle(tau: float = _SEMDEDUP_TAU) -> str:
    """Full SemDeDup replay in DuckDB (shared prefix: ``_sem_aff_cte``),
    plus the same affinity ordering and the same intra-cluster
    pairwise-cosine EXISTS rule as the Spark plan."""
    return f"""{_sem_aff_cte()},
ranked AS (
  SELECT vec_id, e, nrm, centroid, affinity,
         ROW_NUMBER() OVER (
           PARTITION BY centroid ORDER BY affinity, vec_id
         ) AS rk
  FROM aff
),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM ranked a
  JOIN ranked b ON a.centroid = b.centroid AND a.rk < b.rk
  WHERE list_sum(list_transform(list_zip(a.e, b.e), t -> t[1] * t[2]))
        / (a.nrm * b.nrm) >= {sql_double(tau)}
)
SELECT r.vec_id, CAST(r.centroid AS BIGINT) AS centroid, r.affinity,
       rm.vec_id IS NULL AS is_kept
FROM ranked r
LEFT JOIN removed rm ON rm.vec_id = r.vec_id
"""


@register(
    "semdedup_keep_list",
    oracle=_semdedup_oracle(),
    tags=("dedup", "similarity", "ml", "bench"),
)
def semdedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    clustering embeddings, then pruning within-cluster pairs whose cosine
    exceeds τ — the candidate space is cluster-blocked, never corpus-
    quadratic. Per the released implementation, cluster members are ordered
    by similarity-to-centroid ascending (low-affinity examples survive) and
    an example is removed iff some EARLIER member of its cluster is within
    τ; the relational form of that upper-triangular rule is the rank-EXISTS
    join below. Output: every vector with its cluster, centroid affinity,
    and the keep/remove verdict.

    Cross-engine exactness: assignment dots use the sequential-fold ``dot``
    (functions/vectors.py), bit-equal to DuckDB's list_sum fold, so the
    first-max-wins argmax CASE, the affinity ordering, and the pairwise
    cosine-vs-τ comparisons are all decisions over identical doubles — no
    pin-time margin guard needed (unlike the BLAS argmax path in
    ``embedding_cluster_sizes``).

    Scale shape: assignment + affinity are one map pass (k fold-dots per
    row); the one corpus shuffle keys on the cluster id. This exact
    relational form is the CERTIFICATION tier, priced for the sf0.01 gate:
    its pairwise cosine is a ``zip_with``/``aggregate`` higher-order
    function, which is CodegenFallback in Spark — INTERPRETED per candidate
    pair (~100 µs·core measured). Both obvious "fixes" were tried and
    measured worse: unrolling the dot into element_at chains loses to the
    fold's primitive loop (128 null-checked accessors; and unrolling the
    centroid dots blows up the optimizer through the CASE pyramid), and
    salting the pair join ×32 adds shuffle volume without touching the
    interpreted constant. At corpus scale the identical semantics run as
    strip-blocked BLAS in ``operators/similarity.py:semdedup_prune``
    (equivalence-tested; 237× at 10×, see SCALE.md), whose parallelism is
    the cluster count — SemDeDup's own contract (k grows with the corpus;
    the paper fits k=50 000 on LAION) keeps clusters bounded and
    plentiful. (Plan audit, round 11: ``ranked`` is materialized ONCE via an
    eager localCheckpoint — the a-side, b-side, and keep-join branches used
    to each re-derive it from the source, 3 scans + 3 windows where AQE
    reuses one exchange but not all; now every branch reads the
    checkpointed partitions. Values are unchanged — the checkpoint only
    pins materialization — so the oracle hash is identical.)

    Reference parity: extends the reference's exact-hash dedup reporting
    (pipeline/bronze_to_silver.py drop_duplicates) to embedding space —
    the dedup tier a training-data pipeline runs after MinHash."""
    from pyspark.sql import Window

    from ..functions.vectors import dot_arrow

    ranked = _sem_scored(spark, sf_dir).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("centroid").orderBy("affinity", "vec_id")
        ),
    ).localCheckpoint(eager=True)
    a = ranked.select(
        F.col("centroid").alias("ca"),
        F.col("rk").alias("rka"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = ranked.select(
        F.col("vec_id").alias("rm_id"),
        F.col("centroid").alias("cb"),
        F.col("rk").alias("rkb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    removed = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("rka") < F.col("rkb")))
        # dot_arrow = the bit-equal Arrow-vectorized sequential fold
        # (functions/vectors.py): the interpreted zip_with/aggregate dot was
        # ~100 µs·core per candidate pair — 3.4 s of the 4.6 s noop total at
        # sf0.1 over 250 k pairs; the ArrowEvalPython stage does the same
        # IEEE arithmetic at C speed (1.0 s measured, hash unchanged).
        .filter(
            dot_arrow(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            >= F.lit(_SEMDEDUP_TAU)
        )
        .select("rm_id")
        .distinct()
    )
    return (
        ranked.join(removed, ranked.vec_id == removed.rm_id, "left")
        .select(
            "vec_id",
            F.col("centroid").cast("long").alias("centroid"),
            "affinity",
            F.col("rm_id").isNull().alias("is_kept"),
        )
    )


# --------------------------------------------------------------------------- #
# SemDeDup in append mode: new embedding batch vs the kept corpus.
# --------------------------------------------------------------------------- #


def _semdedup_append_oracle(
    split: int = _BATCH_SPLIT_ID, tau: float = _SEMDEDUP_TAU
) -> str:
    cos = (
        "list_sum(list_transform(list_zip({a}.e, {b}.e), t -> t[1] * t[2]))"
        " / ({a}.nrm * {b}.nrm)"
    )
    return f"""{_sem_aff_cte()},
cr AS (
  SELECT vec_id, e, nrm, centroid, affinity,
         ROW_NUMBER() OVER (
           PARTITION BY centroid ORDER BY affinity, vec_id
         ) AS rk
  FROM aff WHERE vec_id < {split}
),
cremoved AS (
  SELECT DISTINCT b.vec_id
  FROM cr a JOIN cr b ON a.centroid = b.centroid AND a.rk < b.rk
  WHERE {cos.format(a="a", b="b")} >= {sql_double(tau)}
),
ckept AS (
  SELECT c.* FROM cr c
  LEFT JOIN cremoved x ON x.vec_id = c.vec_id
  WHERE x.vec_id IS NULL
),
batch AS (
  SELECT vec_id, e, nrm, centroid, affinity,
         ROW_NUMBER() OVER (
           PARTITION BY centroid ORDER BY affinity, vec_id
         ) AS rk
  FROM aff WHERE vec_id >= {split}
),
dupc AS (
  SELECT DISTINCT b.vec_id
  FROM batch b JOIN ckept c ON c.centroid = b.centroid
  WHERE {cos.format(a="c", b="b")} >= {sql_double(tau)}
),
dupb AS (
  SELECT DISTINCT b.vec_id
  FROM batch a JOIN batch b ON a.centroid = b.centroid AND a.rk < b.rk
  WHERE {cos.format(a="a", b="b")} >= {sql_double(tau)}
)
SELECT b.vec_id, CAST(b.centroid AS BIGINT) AS centroid,
       CASE WHEN dc.vec_id IS NOT NULL THEN 'dup_of_corpus'
            WHEN db.vec_id IS NOT NULL THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM batch b
LEFT JOIN dupc dc ON dc.vec_id = b.vec_id
LEFT JOIN dupb db ON db.vec_id = b.vec_id
"""


@register(
    "semdedup_append_batch",
    oracle=_semdedup_append_oracle(),
    tags=("dedup", "similarity", "ml"),
)
def semdedup_append_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in APPEND mode — the semantic analog of
    ``incremental_dedup_new_batch``: vectors below the split id are the
    existing corpus (whose own keep-set is the maintained state), vectors
    at/above are the incoming batch. A batch vector is ``dup_of_corpus`` if
    some KEPT corpus member of its cluster is within τ, else
    ``dup_in_batch`` if some earlier-ranked batch member is within τ (the
    same upper-triangular relaxation as ``semdedup_keep_list``, so replays
    are deterministic), else ``kept``.

    Scale shape: the corpus side arrives as its kept-list STATE (here
    recomputed from the split for the gate; in production it is the
    maintained output of the previous appends, exactly like the corpus
    hash-set of the exact incremental dedup), so per-append cost is
    |batch|·|kept ∩ cluster| + |batch|²-within-cluster — never corpus-
    quadratic, and the batch-side quadratic term is bounded by append
    granularity. The interpreted-HOF cosine price and its BLAS escape hatch
    are the same as ``semdedup_keep_list`` (see that docstring and
    ``operators/similarity.py:semdedup_prune``); output is
    integers+strings, so the hash gate has no float surface at all.

    Reference parity: completes the append-mode dedup family
    (exact hash → Bloom-screened → semantic), extending the reference's
    drop_duplicates (pipeline/bronze_to_silver.py) the way an always-on
    ingest pipeline needs."""
    from pyspark.sql import Window

    from ..functions.vectors import dot

    scored = _sem_scored(spark, sf_dir)
    w = Window.partitionBy("centroid").orderBy("affinity", "vec_id")
    cr = (
        scored.filter(F.col("vec_id") < _BATCH_SPLIT_ID)
        .withColumn("rk", F.row_number().over(w))
    )
    ca = cr.select(
        F.col("centroid").alias("ca"),
        F.col("rk").alias("rka"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    cb = cr.select(
        F.col("vec_id").alias("rm_id"),
        F.col("centroid").alias("cb"),
        F.col("rk").alias("rkb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cremoved = (
        ca.join(cb, (F.col("ca") == F.col("cb")) & (F.col("rka") < F.col("rkb")))
        .filter(
            dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            >= F.lit(_SEMDEDUP_TAU)
        )
        .select("rm_id")
        .distinct()
    )
    ckept = cr.join(
        cremoved, cr.vec_id == cremoved.rm_id, "left_anti"
    ).select(
        F.col("centroid").alias("kc"),
        F.col("e").alias("ke"),
        F.col("nrm").alias("kn"),
    )
    batch = (
        scored.filter(F.col("vec_id") >= _BATCH_SPLIT_ID)
        .withColumn("rk", F.row_number().over(w))
    )
    dupc = (
        batch.join(ckept, batch.centroid == ckept.kc)
        .filter(
            dot(F.col("ke"), F.col("e")) / (F.col("kn") * F.col("nrm"))
            >= F.lit(_SEMDEDUP_TAU)
        )
        .select(F.col("vec_id").alias("dc_id"))
        .distinct()
    )
    ba = batch.select(
        F.col("centroid").alias("ca"),
        F.col("rk").alias("rka"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    bb = batch.select(
        F.col("vec_id").alias("db_id"),
        F.col("centroid").alias("cb"),
        F.col("rk").alias("rkb"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dupb = (
        ba.join(bb, (F.col("ca") == F.col("cb")) & (F.col("rka") < F.col("rkb")))
        .filter(
            dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            >= F.lit(_SEMDEDUP_TAU)
        )
        .select("db_id")
        .distinct()
    )
    return (
        batch.join(dupc, batch.vec_id == dupc.dc_id, "left")
        .join(dupb, batch.vec_id == dupb.db_id, "left")
        .select(
            "vec_id",
            F.col("centroid").cast("long").alias("centroid"),
            F.when(F.col("dc_id").isNotNull(), "dup_of_corpus")
            .when(F.col("db_id").isNotNull(), "dup_in_batch")
            .otherwise("kept")
            .alias("status"),
        )
    )


# --------------------------------------------------------------------------- #
# Year-over-year revenue growth per nation (lag over an aggregate).
# --------------------------------------------------------------------------- #

_YOY_ORACLE = """
WITH yearly AS (
  SELECT n.n_name AS nation,
         EXTRACT(year FROM o.o_orderdate) AS o_year,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
)
SELECT nation, CAST(o_year AS BIGINT) AS o_year, revenue,
       LAG(revenue) OVER (PARTITION BY nation ORDER BY o_year) AS prev_revenue
FROM yearly
"""


@register("nation_yoy_revenue", oracle=_YOY_ORACLE, tags=("tpch", "window", "bench"))
def nation_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue per nation: aggregate-then-window — the lag
    runs over the ~nations×years aggregate (hundreds of rows), not the fact,
    so the window stage costs nothing at any scale. Revenue is the exact
    fixed-point sum (money.py discipline), so prev/current values — and the
    growth ratio a consumer derives — are bit-identical across engines."""
    from ..functions.money import dec_sum
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dec_sum("o_totalprice", "revenue"))
    )
    w = Window.partitionBy("nation").orderBy("o_year")
    return yearly.select(
        "nation", "o_year", "revenue", F.lag("revenue").over(w).alias("prev_revenue")
    )


# --------------------------------------------------------------------------- #
# RFM customer segmentation (quartile scores over three dimensions).
# --------------------------------------------------------------------------- #

_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey AS c_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey,
       CAST(NTILE(4) OVER (ORDER BY last_order, c_custkey) AS BIGINT) AS r_score,
       CAST(NTILE(4) OVER (ORDER BY frequency, c_custkey) AS BIGINT) AS f_score,
       CAST(NTILE(4) OVER (ORDER BY monetary, c_custkey) AS BIGINT) AS m_score
FROM base
"""


@register("customer_rfm_scores", oracle=_RFM_ORACLE, tags=("window", "analytics", "bench"))
def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary quartile
    scores (higher = more recent / frequent / valuable). The three NTILEs
    run over the per-customer aggregate, each with a c_custkey tiebreak so
    bucket boundaries are deterministic cross-engine; monetary is the exact
    fixed-point sum, so ordering never depends on float summation order.

    Scale note: NTILE over an unpartitioned window is a single-reducer sort
    — fine for a per-customer aggregate (rows = |customers|, and only 3
    narrow columns), the documented trade for exact global quartiles. The
    approximate path for fact-sized inputs is order_price_rank_buckets'
    broadcast histogram-edge technique."""
    from ..functions.money import dec_sum
    from pyspark.sql import Window

    base = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dec_sum("o_totalprice", "monetary"),
        )
    )
    return base.select(
        "c_custkey",
        F.ntile(4)
        .over(Window.orderBy("last_order", "c_custkey"))
        .cast("long")
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy("frequency", "c_custkey"))
        .cast("long")
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy("monetary", "c_custkey"))
        .cast("long")
        .alias("m_score"),
    )


# --------------------------------------------------------------------------- #
# Cross-document n-gram overlap — the substring-dedup signal.
# --------------------------------------------------------------------------- #

_XGRAM_N = 5

_XGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         md5(array_to_string(toks[i.i:i.i + {_XGRAM_N - 1}], ' ')) AS gh
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - {_XGRAM_N - 2})) AS i) i
  WHERE len(toks) >= {_XGRAM_N}
),
dg AS (SELECT doc_id, gh, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY doc_id, gh),
dup AS (SELECT gh FROM dg GROUP BY gh HAVING COUNT(*) > 1)
SELECT dg.doc_id,
       CAST(SUM(dg.c) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN d.gh IS NOT NULL THEN dg.c ELSE 0 END) AS BIGINT)
         AS n_shared_grams,
       CAST(SUM(CASE WHEN d.gh IS NOT NULL THEN dg.c ELSE 0 END) AS DOUBLE)
         / CAST(SUM(dg.c) AS DOUBLE) AS shared_fraction
FROM dg LEFT JOIN dup d ON dg.gh = d.gh
GROUP BY dg.doc_id
"""


def cross_doc_overlap_scores(docs: DataFrame, n: int = _XGRAM_N) -> DataFrame:
    """Reusable core of ``cross_doc_ngram_overlap`` over any (doc_id, text)
    frame — per document: n_grams, n_shared_grams, shared_fraction. Used by
    the registry query below and as ``trainprep``'s substring-overlap
    filter stage. Documents with fewer than ``n`` tokens emit no row."""
    toks = F.split(F.lower(F.col("text")), " ")
    docs = docs.select("doc_id", toks.alias("toks"))
    grams = (
        docs.filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, n))),
                )
            ).alias("gh"),
        )
    )
    dg = grams.groupBy("doc_id", "gh").agg(F.count(F.lit(1)).alias("c"))
    dup = (
        dg.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh", F.lit(True).alias("_dup"))
    )
    shared = F.sum(F.when(F.col("_dup"), F.col("c")).otherwise(F.lit(0)))
    return (
        dg.join(dup, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            shared.cast("long").alias("n_shared_grams"),
            (shared.cast("double") / F.sum("c").cast("double")).alias(
                "shared_fraction"
            ),
        )
    )


@register(
    "cross_doc_ngram_overlap", oracle=_XGRAM_ORACLE, tags=("dedup", "text")
)
def cross_doc_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per document, the
    fraction of its {n}-token-gram positions whose gram also occurs in at
    least one OTHER document — the cross-doc complement of
    ``doc_repetition_signals``' within-doc repetition, and the statistic
    that motivates substring (not whole-document) dedup: exact/near dedup
    misses boilerplate shared across otherwise-distinct pages.

    Shape: grams are md5-hashed BEFORE leaving the document row, so every
    exchange carries 32-char hashes, never text; positions pre-aggregate to
    (doc, gram, count) grain map-side; the dup-gram set is one more
    hash-grain aggregate; integers throughout, one IEEE division per output
    row. Shuffles are O(distinct doc-gram pairs) — the same budget as
    vocabulary building — with no quadratic pair enumeration anywhere.
    Sub-gram hash collisions (md5, ~2⁻¹²⁸) are the standard accepted risk.
    """.replace("{n}", str(_XGRAM_N))
    return cross_doc_overlap_scores(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


# --------------------------------------------------------------------------- #
# Exact substring dedup with EXCISION — the Lee-et-al tier that rewrites.
# --------------------------------------------------------------------------- #

_EXCISE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
occ AS (
  SELECT doc_id, i.i AS pos,
         md5(array_to_string(toks[i.i:i.i + {_XGRAM_N - 1}], ' ')) AS gh
  FROM b, LATERAL (SELECT unnest(range(1, n - {_XGRAM_N - 2})) AS i) i
  WHERE n >= {_XGRAM_N}
),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rk
    FROM occ
  ) WHERE rk > 1
),
cov AS (
  SELECT DISTINCT doc_id, pos + o.o AS cpos
  FROM marked, LATERAL (SELECT unnest(range(0, {_XGRAM_N})) AS o) o
),
tok AS (
  SELECT doc_id, i.i AS pos, toks[i.i] AS tk
  FROM b, LATERAL (SELECT unnest(range(1, n + 1)) AS i) i
),
kept AS (
  SELECT tok.doc_id, tok.pos, tok.tk
  FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.cpos = tok.pos
  WHERE cov.cpos IS NULL
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         array_to_string(list(tk ORDER BY pos), ' ') AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
       CAST(b.n - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM b LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
"""


@register(
    "substring_excised_documents", oracle=_EXCISE_ORACLE,
    tags=("dedup", "text", "bench")
)
def substring_excised_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring deduplication with EXCISION (Lee et al. 2022) — the
    tier past whole-document dedup that this registry previously only
    SCORED (``cross_doc_ngram_overlap``): every repeated {n}-token gram
    keeps one canonical occurrence (minimum (doc, position) — replay-
    deterministic) and every other occurrence's span is cut out of its
    document, so shared boilerplate survives exactly once in the corpus.
    Output is the REWRITTEN text per document plus removal accounting; the
    oracle recomputes cleaned_text byte-for-byte, so a wrong span bound,
    ordering tie, or join flavor fails the hash on the string itself.

    Scale shape (operators/dedup.py:excise_shared_ngrams): O(corpus tokens)
    hashed occurrence rows (text never shuffles), one gram-hash window for
    canonicalization, token-grain anti-join + one doc-keyed rebuild
    exchange — the unavoidable price of rewriting the corpus, linear
    throughout, no pair enumeration.""".replace("{n}", str(_XGRAM_N))
    from ..operators.dedup import excise_shared_ngrams
    from ..sources.readers import spread_small_scan

    # Conditional spread (no-op at scale): the per-position md5 occurrence
    # build is the heavy stage and ran single-task on the one-row-group
    # test file (round 15).
    return excise_shared_ngrams(
        spread_small_scan(load_table(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        n=_XGRAM_N,
    )
