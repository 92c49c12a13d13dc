"""North-star extension queries: dedup, text analysis, similarity search.

These run over the driver's ``documents`` (doc_id, text, lang, source,
n_chars) and ``embeddings`` (vec_id, embedding array<float>, label) tables —
the surface a 100 TB training-data pipeline needs beyond the reference's
operators (SURVEY.md §2.7).

Determinism rules (shared with plans/medallion.py): integer counts stay
integers; every emitted double is either a division of two exact integers or a
fold over identical doubles in identical order on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    EN_STOPWORDS,
    LANG_PRECEDENCE,
    LANG_STOPWORDS,
    bag_fingerprint,
    distinct_token_count,
    min_shingle_hash,
    predict_language,
    stopword_count,
    token_count,
    tokenize,
    total_token_chars,
)
from ..operators.dedup import (
    exact_dedup,
    jaccard_similar_pairs,
    minhash_near_dup,
    simhash_near_dup,
)
from ..operators.multimodal import (
    attach_text_payloads,
    extract_payload_features,
    sample_frames,
)
from ..operators.similarity import (
    blocked_cosine_pairs,
    brute_force_topk,
    cosine_lsh_pairs,
    ivf_topk,
)
from ..sources.readers import load_table
from .pinned_sql import centroid_argmax, sql_double
from .registry import register

# --------------------------------------------------------------------------- #
# Exact dedup — content-hash groupBy (the 100 TB cheap path).
# --------------------------------------------------------------------------- #

_EXACT_DEDUP_ORACLE = """
SELECT
  md5(text) AS content_hash,
  MIN(doc_id) AS canonical_id,
  COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
"""


@register("exact_dedup_documents", oracle=_EXACT_DEDUP_ORACLE, tags=("bench", "dedup"))
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one canonical doc id per distinct text."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, id_col="doc_id", content_col="text")


_NORM_DEDUP_ORACLE = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(length(norm) AS BIGINT) AS n_norm_chars
FROM n GROUP BY norm
"""


@register(
    "normalized_dedup_documents", oracle=_NORM_DEDUP_ORACLE,
    tags=("dedup", "text", "bench")
)
def normalized_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over NORMALIZED text — the CCNet-style robustness tier
    between byte-exact hashing and MinHash: lowercase, strip non-
    alphanumerics, collapse whitespace, then keep one canonical (min id)
    document per normalized form with its cohort size. Catches the
    trivially-reformatted duplicates (punctuation, casing, double spaces)
    that byte-exact dedup misses and near-dup LSH is overkill for.
    Normalization uses plain character classes only, so Java regex and RE2
    produce identical bytes and the oracle replays the whole key
    (functions/text.py:normalize_text).

    Scale shape: map-side normalize → md5 the normalized key in the
    aggregate exchange (text itself never shuffles more than once) — the
    exact_dedup budget with one extra regexp pass."""
    from ..functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    n = docs.select("doc_id", normalize_text("text").alias("norm"))
    return n.groupBy("norm").agg(
        F.min("doc_id").cast("long").alias("doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.length(F.max("norm")).cast("long").alias("n_norm_chars"),
    ).drop("norm")


# --------------------------------------------------------------------------- #
# Token statistics per document.
# --------------------------------------------------------------------------- #

_TOKEN_STATS_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT
  doc_id,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_unique_tokens,
  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS n_token_chars,
  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) / len(toks) AS avg_token_len,
  len(list_distinct(toks)) / len(toks) AS type_token_ratio
FROM t
"""


@register("doc_token_stats", oracle=_TOKEN_STATS_ORACLE, tags=("bench", "text"))
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics via JVM-side array folds (no UDFs).

    Tokenize once into an intermediate projection, then derive every stat from
    the materialized array/counters — the naive form re-runs the regex split
    per output column."""
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select("doc_id", tokenize("text").alias("toks"))
    counted = with_toks.select(
        "doc_id",
        token_count(F.col("toks")).alias("n_tokens"),
        distinct_token_count(F.col("toks")).alias("n_unique_tokens"),
        total_token_chars(F.col("toks")).alias("n_token_chars"),
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        "n_unique_tokens",
        "n_token_chars",
        (F.col("n_token_chars") / F.col("n_tokens")).alias("avg_token_len"),
        (F.col("n_unique_tokens") / F.col("n_tokens")).alias("type_token_ratio"),
    )


# --------------------------------------------------------------------------- #
# Corpus-level token frequencies (explode → groupBy).
# --------------------------------------------------------------------------- #

_TOKEN_FREQ_ORACLE = """
SELECT w AS token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
GROUP BY w
HAVING COUNT(*) >= 5
"""


@register("token_frequencies", oracle=_TOKEN_FREQ_ORACLE, tags=("text",))
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with term + document frequencies (freq ≥ 5)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .filter(F.col("freq") >= 5)
    )


# --------------------------------------------------------------------------- #
# Quality scoring — stopword/type-token heuristics (integer-exact ratios).
# --------------------------------------------------------------------------- #

_STOPWORDS_SQL = "(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, n_chars, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT
  doc_id,
  len(list_filter(toks, x -> x IN {_STOPWORDS_SQL})) / len(toks) AS stopword_ratio,
  len(list_distinct(toks)) / len(toks) AS type_token_ratio,
  (len(toks) BETWEEN 10 AND 1000)
    AND (len(list_distinct(toks)) / len(toks) > 0.2) AS passes_quality
FROM t
"""


@register("doc_quality_scores", oracle=_QUALITY_ORACLE, tags=("text",))
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap quality gates: stopword ratio, lexical diversity, length band."""
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id", tokenize("text").alias("toks")
    ).select(
        "doc_id",
        token_count(F.col("toks")).alias("n_tokens"),
        distinct_token_count(F.col("toks")).alias("n_distinct"),
        stopword_count(F.col("toks")).alias("n_stop"),
    )
    ttr = F.col("n_distinct") / F.col("n_tokens")
    return counted.select(
        "doc_id",
        (F.col("n_stop") / F.col("n_tokens")).alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        (F.col("n_tokens").between(10, 1000) & (ttr > 0.2)).alias("passes_quality"),
    )


# --------------------------------------------------------------------------- #
# Document fingerprint — md5 over the sorted distinct token bag.
# --------------------------------------------------------------------------- #

_FINGERPRINT_ORACLE = """
SELECT
  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
    AS fingerprint,
  MIN(doc_id) AS canonical_id,
  COUNT(*) AS member_count
FROM documents
GROUP BY 1
"""


@register("doc_fingerprint_groups", oracle=_FINGERPRINT_ORACLE, tags=("dedup", "text"))
def doc_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint dedup: same vocabulary → same group."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(bag_fingerprint(tokenize("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("member_count"),
        )
    )


# --------------------------------------------------------------------------- #
# Exact n-gram Jaccard near-dup pairs (inverted-index self-join).
# --------------------------------------------------------------------------- #

_JACCARD_ORACLE = """
WITH sets AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks FROM documents
),
words AS (SELECT doc_id, unnest(toks) AS w FROM sets),
sizes AS (SELECT doc_id, len(toks) AS sz FROM sets),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, CAST(i AS DOUBLE) / (x.sz + y.sz - i) AS jaccard
FROM inter
JOIN sizes x ON id_a = x.doc_id
JOIN sizes y ON id_b = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.9
"""


@register("jaccard_near_dup_pairs", oracle=_JACCARD_ORACLE, tags=("dedup",))
def jaccard_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard ≥ 0.9 pairs. Quadratic in posting-list length —
    the exact verifier; at corpus scale run behind MinHash-LSH candidates."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_similar_pairs(docs, id_col="doc_id", text_col="text", threshold=0.9)


# DuckDB replay of the FULL MinHash-LSH pipeline (md5 hash family): the same
# 32 per-perm minima over substr(md5(i || '|' || token), 1, 16) — lexicographic
# min of fixed-width lowercase hex ≡ numeric min — the same 8 bands of 4 with
# md5-of-joined-slice buckets, the same bucket-equality candidates, and the
# same exact-Jaccard verification. Hash-green means the Spark side's banding
# and recall behavior are bit-identical, not just its final verify step.
_MINHASH_PAIRS_CTE = """
WITH sets AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks FROM documents
),
words AS (SELECT doc_id, unnest(toks) AS w FROM sets),
perms AS (SELECT range AS i FROM range(32)),
mins AS (
  SELECT doc_id, i, MIN(substr(md5(CAST(i AS VARCHAR) || '|' || w), 1, 16)) AS mh
  FROM words CROSS JOIN perms
  GROUP BY doc_id, i
),
buckets AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(mh, ',' ORDER BY i)) AS bucket
  FROM mins
  GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, len(toks) AS sz FROM sets),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS i
  FROM cand c
  JOIN words a ON a.doc_id = c.id_a
  JOIN words b ON b.doc_id = c.id_b AND b.w = a.w
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b, CAST(i AS DOUBLE) / (x.sz + y.sz - i) AS jaccard
  FROM inter
  JOIN sizes x ON id_a = x.doc_id
  JOIN sizes y ON id_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.9
)
"""

_MINHASH_PAIRS_ORACLE = _MINHASH_PAIRS_CTE + "SELECT id_a, id_b, jaccard FROM pairs"

_MINHASH_KEEP_ORACLE = (
    _MINHASH_PAIRS_CTE
    + """,
neighbors AS (
  SELECT doc_id, MIN(nbr) AS min_nbr FROM (
    SELECT id_a AS doc_id, id_b AS nbr FROM pairs
    UNION ALL
    SELECT id_b AS doc_id, id_a AS nbr FROM pairs
  ) GROUP BY doc_id
)
SELECT d.doc_id, LEAST(d.doc_id, COALESCE(n.min_nbr, d.doc_id)) AS keep_id
FROM documents d LEFT JOIN neighbors n ON d.doc_id = n.doc_id
"""
)


@register("minhash_near_dup_pairs", oracle=_MINHASH_PAIRS_ORACLE, tags=("dedup",))
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact verification, hash-checked
    end-to-end: the md5 permutation family is computable in DuckDB, so the
    oracle replays the identical signatures, bands, buckets, and verify —
    any drift in banding (not just in the verified output) hash-mismatches.
    Production callers default to the faster xxhash64 family; the banding
    logic is family-independent (operators/dedup.py:minhash_near_dup).

    Not bench-tagged: this testdata corpus is near-dup dense (~1M true pairs
    at jaccard ≥ 0.9 among 5K docs at sf0.1), so pair enumeration is
    output-bound — it measures corpus density, not engine throughput. The
    bounded-output production shape is ``minhash_dedup_keep_list`` below."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup(
        docs,
        id_col="doc_id",
        text_col="text",
        threshold=0.9,
        num_perms=32,
        bands=8,
        hash_family="md5",
    )


@register("minhash_dedup_keep_list", oracle=_MINHASH_KEEP_ORACLE, tags=("dedup",))
def minhash_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup as a keep/drop decision per document — the 100 TB product.

    One row per doc: its canonical near-dup representative (the smallest
    verified neighbor id, itself if none). Output is O(corpus) — a
    training-data pipeline keeps rows where doc_id == keep_id. Work is still
    bounded below by the corpus's true near-dup pair count (~1M here), so
    like the pairs query it stays un-bench-tagged on this dup-dense
    testdata. Hash-checked via the md5 family (see minhash_near_dup_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(
        docs,
        id_col="doc_id",
        text_col="text",
        threshold=0.9,
        num_perms=32,
        bands=8,
        hash_family="md5",
    )
    # Smallest neighbor over both pair orientations, then min against self.
    neighbors = (
        pairs.select(F.col("id_a").alias("doc_id"), F.col("id_b").alias("nbr"))
        .union(pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("nbr")))
        .groupBy("doc_id")
        .agg(F.min("nbr").alias("min_nbr"))
    )
    return (
        docs.select("doc_id")
        .join(neighbors, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce(F.col("min_nbr"), F.col("doc_id"))).alias(
                "keep_id"
            ),
        )
    )


# --------------------------------------------------------------------------- #
# Similarity search — exact cosine top-k (rank contract, see operator doc).
# --------------------------------------------------------------------------- #

_SIM_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
p AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         list_sum(list_transform(list_zip(q.e, c.e), t -> t[1] * t[2])) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON q.vec_id < 8 AND q.vec_id <> c.vec_id
)
SELECT qid, cid, rank FROM (
  SELECT qid, cid,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
  FROM p
)
WHERE rank <= 5
"""


@register("similarity_topk", oracle=_SIM_ORACLE, tags=("bench", "similarity"))
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 8."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(queries, emb, id_col="vec_id", vec_col="embedding", k=5)


def _ivf_topk_oracle(n_probe: int = 6, k_top: int = 5) -> str:
    """DuckDB replay of the full IVF pipeline against the PINNED spherical
    k-means model (plans/_pinned_centroids.py): assignment = first-max-wins
    raw-dot argmax (≡ Spark's normalized-dot argmax — normalization scales
    every dot by the same positive factor; tie robustness guarded at pin
    time by tools/pin_centroids.py), probe order = per-query raw-dot rank
    over the same 8 centroid literals (≡ Spark's stable argsort of
    normalized dots), then exact cosine top-k within the probed partitions.
    Hash-green means the PRUNING is bit-identical, not just the final rank."""
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8 as cent

    am = centroid_argmax(cent, lambda lits: f"list_dot_product(e, {lits})")
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
nv AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
d AS (
  SELECT vec_id, e, nrm,
         {am.dots}
  FROM nv
),
assigned AS (
  SELECT vec_id, e, nrm, {am.case} AS centroid
  FROM d
),
qd AS (
  SELECT vec_id AS qid, e AS qe, nrm AS qnrm, unnest([{am.structs}]) AS u
  FROM d WHERE vec_id < 8
),
probes AS (
  SELECT qid, qe, qnrm, idx AS centroid FROM (
    SELECT qid, qe, qnrm, u.idx AS idx,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY u.d DESC, u.idx) AS r
    FROM qd
  ) WHERE r <= {n_probe}
),
scored AS (
  SELECT p.qid, a.vec_id AS cid,
         list_sum(list_transform(list_zip(p.qe, a.e), t -> t[1] * t[2]))
           / (p.qnrm * a.nrm) AS cos
  FROM probes p
  JOIN assigned a ON a.centroid = p.centroid AND a.vec_id <> p.qid
)
SELECT qid, cid, rank FROM (
  SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
  FROM scored
)
WHERE rank <= {k_top}
"""


@register(
    "ivf_similarity_topk",
    oracle=_ivf_topk_oracle(),
    tags=("bench", "similarity", "approx"),
)
def ivf_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-5 (the ANN scale path: spherical k-means
    partitioning + n_probe pruning), hash-checked end-to-end: probing the
    PINNED k=8 model lets the DuckDB oracle replay assignment, probe order,
    and in-partition scoring exactly, so this certifies the pruning logic —
    not just the output's plausibility. The fit-per-call shape
    (n_centroids=16 trained on a deterministic sample) remains the operator
    default; tests/test_dedup_similarity.py asserts brute-force equality at
    full probe and recall ≥ 0.9 for both shapes. The testdata embeddings are
    near-isotropic (little cluster structure — IVF's worst case), so the
    probe fraction is high; clustered real-world corpora prune much harder
    at the same recall."""
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(
        queries, emb, id_col="vec_id", vec_col="embedding",
        k=5, n_probe=6, centroids=_CLUSTER_CENTROIDS_K8,
    )


# --------------------------------------------------------------------------- #
# Embedding corpus statistics.
# --------------------------------------------------------------------------- #

_HASH_EMBED_DIM = 64

_HASH_EMBED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
hb AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
              % {_HASH_EMBED_DIM} AS INTEGER) AS bucket,
         CASE WHEN substr(md5(tok), 9, 1) IN
                   ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS sign
  FROM toks
)
SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS signed_count
FROM hb GROUP BY doc_id, bucket
HAVING SUM(sign) <> 0
"""


@register(
    "doc_hash_embedding_buckets",
    oracle=_HASH_EMBED_ORACLE,
    tags=("text", "similarity", "ml", "bench"),
)
def doc_hash_embedding_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embeddings (Weinberger et al., ICML 2009) in
    their exact-integer long form: token → md5 bucket (first 8 hex chars mod
    64) with a ±1 sign from the 9th hex char's high bit, summed per (doc,
    bucket). This is the documents→vector bridge when no learned embedding
    exists — the dense form (``operators/hashembed.py:hash_embed``) feeds
    ``semdedup_prune``/``ivf_topk``/``blocked_cosine_pairs`` directly, and
    inner products are unbiased estimates of bag-of-words inner products.

    Scale shape: one tokenize scan → one map-side-combinable (doc, bucket)
    aggregate; the key space is |docs|·64, never the vocabulary, and
    everything is whole-stage-codegen column arithmetic. The gate certifies
    the integer long form; the dense assembly adds only a per-doc map
    lookup. Production callers flip ``hash_family='xxhash64'``."""
    from ..operators.hashembed import hash_embed_buckets

    docs = load_table(spark, sf_dir, "documents")
    return hash_embed_buckets(docs, dim=_HASH_EMBED_DIM, hash_family="md5")


_HASH_EMBED_DENSE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
hb AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
              % {_HASH_EMBED_DIM} AS INTEGER) AS bucket,
         CASE WHEN substr(md5(tok), 9, 1) IN
                   ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS sign
  FROM toks
),
agg AS (
  SELECT doc_id, bucket, SUM(sign) AS c
  FROM hb GROUP BY doc_id, bucket HAVING SUM(sign) <> 0
),
per AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS norm2,
         CAST(COUNT(*) AS BIGINT) AS nnz
  FROM agg GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(per.norm2, 0) AS norm2, COALESCE(per.nnz, 0) AS nnz
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per ON per.doc_id = d.doc_id
"""


@register(
    "doc_hash_embedding_dense_stats",
    oracle=_HASH_EMBED_DENSE_ORACLE,
    tags=("text", "similarity", "ml", "bench"),
)
def doc_hash_embedding_dense_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document invariants of the DENSE hash-embedding assembly
    (``operators/hashembed.py:hash_embed``): squared L2 norm and non-zero
    count, both exact integers, computed FROM the assembled array. The
    oracle recomputes them from the long form and LEFT-joins to all doc
    ids, so a hash match certifies the round-11 cardinality contract —
    every input document appears exactly once, fully-cancelled or
    token-less docs as zero vectors (norm2 = 0, nnz = 0) — and that the
    zero-fill map assembly lost no bucket. The per-row array fold is one
    interpreted-HOF eval per DOCUMENT (never per pair — the scale rule in
    SCALE.md), on top of the same single-exchange long-form plan the
    ``doc_hash_embedding_buckets`` gate prices."""
    from ..operators.hashembed import hash_embed

    docs = load_table(spark, sf_dir, "documents")
    dense = hash_embed(docs, dim=_HASH_EMBED_DIM, hash_family="md5")
    return dense.select(
        "doc_id",
        F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x * x
        ).cast("long").alias("norm2"),
        F.aggregate(
            "embedding",
            F.lit(0),
            lambda a, x: a + F.when(x != 0.0, 1).otherwise(0),
        ).cast("long").alias("nnz"),
    )


def _logreg_oracle() -> str:
    """Replay of the pinned-logreg logit: the SAME left-associated IEEE
    sequence z = ((((b + t0) + t1) + t2) + t3), tᵢ = ((xᵢ − μᵢ)/σᵢ)·wᵢ,
    over the already-certified exact-integer token-stat idioms. Every
    pinned literal is written by ``sql_double``, which DuckDB parses as a
    DOUBLE equal to the pinned value. A bare 54.33 would be DECIMAL, and
    ``CAST(<decimal> AS DOUBLE)`` rounds twice: 2 of the 13 pinned values
    land one ulp off that way (see plans/pinned_sql.py)."""
    from ._pinned_logreg import (
        _LOGREG_BIAS,
        _LOGREG_MEAN,
        _LOGREG_STD,
        _LOGREG_WEIGHTS,
    )

    cols = ["n_tokens", "n_unique_tokens", "n_token_chars", "n_chars"]
    z = sql_double(_LOGREG_BIAS)
    for c, m, s, w in zip(cols, _LOGREG_MEAN, _LOGREG_STD, _LOGREG_WEIGHTS):
        z = (
            f"({z} + (({c} - {sql_double(m)}) / {sql_double(s)})"
            f" * {sql_double(w)})"
        )
    return f"""
WITH t AS (
  SELECT doc_id, source, n_chars AS raw_chars,
         string_split(lower(text), ' ') AS toks
  FROM documents
),
f AS (
  SELECT doc_id, source,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           AS n_token_chars,
         CAST(raw_chars AS BIGINT) AS n_chars
  FROM t
)
SELECT doc_id, {z} AS logit, {z} > 0.0 AS predicted_src0,
       source = 'src0' AS is_src0
FROM f
"""


@register(
    "doc_source_logreg_scores",
    oracle=_logreg_oracle(),
    tags=("text", "ml", "quality", "bench"),
)
def doc_source_logreg_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document scored by the PINNED logistic-regression source
    classifier — the fastText-style quality-filter tier (CCNet/GPT-3 style:
    'does this look like the clean source?') promoted from pytest-only
    parity to a hash-certified row, the round-10 PCA precedent applied to
    the classifier operator.

    The model (operators/logreg.py:fit_logreg — distributed full-batch GD,
    one standardization pass, model-sized driver traffic per step, no
    corpus shuffle ever) is trained by tools/pin_logreg.py to predict
    ``source == 'src0'`` from four exact-integer text statistics and pinned
    into plans/_pinned_logreg.py; tests/test_logreg.py asserts the pinned
    values still match a fresh fit. Inference here is pure whole-stage-
    codegen column arithmetic: the logit is the unrolled left-associated
    z = b + Σ wᵢ·((xᵢ−μᵢ)/σᵢ) over integer features, so both engines run
    the identical IEEE sequence and the emitted doubles are bit-equal — the
    class decision (z > 0) is then exact by construction, no sigmoid/exp on
    the gate surface (σ is monotone; thresholding z IS thresholding σ(z)).

    Scale shape: map-only scan-side expressions after one tokenize pass —
    the corpus-filtering pass costs the same as any projection at 100 TB;
    training cost is per-iteration map passes emitting d+1 floats per
    partition."""
    from ._pinned_logreg import (
        _LOGREG_BIAS,
        _LOGREG_MEAN,
        _LOGREG_STD,
        _LOGREG_WEIGHTS,
    )
    from ..functions.text import (
        distinct_token_count,
        token_count,
        tokenize,
        total_token_chars,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    f = docs.select(
        "doc_id",
        "source",
        token_count(toks).alias("n_tokens"),
        distinct_token_count(toks).alias("n_unique_tokens"),
        total_token_chars(toks).alias("n_token_chars"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    from ..operators.logreg import logit_expr

    z = logit_expr(
        ("n_tokens", "n_unique_tokens", "n_token_chars", "n_chars"),
        _LOGREG_MEAN,
        _LOGREG_STD,
        _LOGREG_WEIGHTS,
        _LOGREG_BIAS,
    )
    return f.select(
        "doc_id",
        z.alias("logit"),
        (z > F.lit(0.0)).alias("predicted_src0"),
        (F.col("source") == "src0").alias("is_src0"),
    )


_EMB_STATS_ORACLE = """
SELECT label, COUNT(*) AS n_vectors, MIN(len(embedding)) AS min_dim,
       MAX(len(embedding)) AS max_dim
FROM embeddings
GROUP BY label
"""


@register("embedding_stats", oracle=_EMB_STATS_ORACLE, tags=("similarity",))
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanity rollup over the embedding corpus (per-label counts and dims)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(F.size("embedding")).cast("long").alias("min_dim"),
        F.max(F.size("embedding")).cast("long").alias("max_dim"),
    )


# --------------------------------------------------------------------------- #
# Language identification — stopword-overlap heuristic with argmax+precedence.
# --------------------------------------------------------------------------- #

def _langid_oracle() -> str:
    hit = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in LANG_STOPWORDS.items()
    }
    cases = []
    for lang in LANG_PRECEDENCE:
        others = " AND ".join(
            f"{hit[lang]} >= {hit[o]}" for o in LANG_PRECEDENCE if o != lang
        )
        cases.append(f"WHEN {hit[lang]} > 0 AND {others} THEN '{lang}'")
    case_sql = "\n    ".join(cases)
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents)
SELECT
  doc_id,
  lang AS labeled_lang,
  CASE
    {case_sql}
    ELSE 'unknown'
  END AS predicted_lang
FROM t
"""


@register("language_id", oracle=_langid_oracle(), tags=("text",))
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID per document, next to the stored label."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predict_language(tokenize("text")).alias("predicted_lang"),
    )


# --------------------------------------------------------------------------- #
# Rolling-shingle (winnowing-style) fingerprint groups.
# --------------------------------------------------------------------------- #

_SHINGLE_ORACLE = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
s AS (
  SELECT
    doc_id,
    list_min(
      list_transform(
        generate_series(1, len(toks) - 2),
        i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      )
    ) AS min_shingle
  FROM t
  WHERE len(toks) >= 3
)
SELECT min_shingle, MIN(doc_id) AS canonical_id, COUNT(*) AS member_count
FROM s
GROUP BY min_shingle
"""


@register("shingle_fingerprint_groups", oracle=_SHINGLE_ORACLE, tags=("dedup", "text"))
def shingle_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents grouped by minimal 3-gram shingle hash (rolling fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    return (
        docs.select("doc_id", min_shingle_hash(toks, 3).alias("min_shingle"))
        .filter(F.col("min_shingle").isNotNull())
        .groupBy("min_shingle")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("member_count"),
        )
    )


# --------------------------------------------------------------------------- #
# Embedding-cosine near-duplicate pairs (brute force, exact).
# --------------------------------------------------------------------------- #

_EMB_NEAR_DUP_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(list_zip(a.e, b.e), t -> t[1] * t[2])) / (a.nrm * b.nrm)
      >= 0.4
"""


@register("embedding_near_dup_pairs", oracle=_EMB_NEAR_DUP_ORACLE, tags=("dedup", "similarity"))
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector pairs with cosine ≥ 0.4 — embedding-space near-dedup.

    Brute-force O(n²) pair scan (exact baseline); ``embedding_lsh_near_dup_pairs``
    is the bucketed scale path, oracled against this same pair set. The 0.4
    threshold is deliberate: the synthetic embeddings are near-isotropic (max
    pairwise cosine ≈ 0.51 at sf0.01), so a production-style 0.85 cut returns
    the empty set and the oracle comparison degenerates to 0 = 0; at 0.4 the
    gate corpus yields 59 real pairs, making the value-hash check substantive."""
    from ..functions.vectors import cosine, l2_norm, to_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("e")
    ).withColumn("nrm", l2_norm(F.col("e")))
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")) >= 0.4
        )
        .select("id_a", "id_b")
    )


@register("embedding_lsh_near_dup_pairs", oracle=_EMB_NEAR_DUP_ORACLE, tags=("dedup", "similarity"))
def embedding_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dedup — the scale path, oracled against the
    *exact* pair SQL. Sound because the operator ends in an exact-cosine
    verify of candidates, so its output is a subset of the brute-force pairs
    by construction (precision 1.0); the oracle hash-match therefore proves
    recall 1.0 on the gate corpus with these seeded hyperplanes (32 bands ×
    4 bits: per-band collision at cos 0.4 is (1 − θ/π)⁴ ≈ 0.159 → miss
    probability per pair ≈ 0.841³² ≈ 0.004; measured recall on sf0.01 is
    59/59). Parameter scaling: ``bits`` sets bucket granularity (2^bits
    buckets per band — raise toward 16–20 on web-scale corpora so bucket
    sizes stay bounded) and ``bands`` buys back recall; signatures never
    leave the map side, the shuffle carries only (band, bucket, id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_lsh_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4, bands=32, bits=4
    ).select("id_a", "id_b")


@register(
    "embedding_blocked_near_dup_pairs",
    oracle=_EMB_NEAR_DUP_ORACLE,
    tags=("dedup", "similarity", "bench"),
)
def embedding_blocked_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cosine ≥ 0.4 pair set — same contract and oracle as
    ``embedding_near_dup_pairs``, but computed by the blocked-matmul operator:
    B·n shuffle instead of an n² pair stream, one BLAS matmul per block pair
    instead of a JVM fold per pair. This is the plan to run when an exact
    (recall-guaranteed) answer is required at scale; see
    ``blocked_cosine_pairs`` for the block-size arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4, n_blocks=8
    )


def _simhash_oracle(max_hamming: int = 3, bands: int = 4, bits: int = 64) -> str:
    """DuckDB replay of the FULL SimHash pipeline (md5 bit family): the same
    per-token 64 bits (high bit of each hex digit of md5('0|'+t) ∥
    md5('1|'+t)), the same ±1 majority per bit, the same 4×16-bit bands for
    candidates, the same Hamming verify. Signatures travel as 64-char bit
    strings — band b is chars [b·16+1, b·16+16], matching the packed long's
    bit indices on the Spark side."""
    rows = bits // bands
    sums = ",\n    ".join(
        f"SUM(CASE WHEN substr(hx, {j + 1}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{j}".replace(
            "{j}", str(j)
        )
        for j in range(bits)
    )
    bitstr = " || ".join(
        f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(bits)
    )
    return f"""
WITH sets AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks FROM documents
),
words AS (SELECT doc_id, unnest(toks) AS w FROM sets),
h AS (SELECT doc_id, md5('0|' || w) || md5('1|' || w) AS hx FROM words),
sums AS (
  SELECT doc_id,
    {sums}
  FROM h GROUP BY doc_id
),
sig AS (SELECT doc_id, {bitstr} AS bits FROM sums),
banded AS (
  SELECT doc_id, bits, b, substr(bits, b * {rows} + 1, {rows}) AS bb
  FROM sig, (SELECT unnest(range({bands})) AS b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.bits AS ba, y.bits AS bbits
  FROM banded x
  JOIN banded y ON x.b = y.b AND x.bb = y.bb AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
         CAST(list_sum(list_transform(range({bits}),
           j -> CASE WHEN substr(ba, j + 1, 1) <> substr(bbits, j + 1, 1)
                THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM cand
)
WHERE hamming <= {max_hamming}
"""


@register("simhash_near_dup_pairs", oracle=_simhash_oracle(), tags=("dedup",))
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 of 64 bits), hash-checked
    end-to-end via the md5 bit family — the DuckDB oracle recomputes the
    identical signatures, bands, and Hamming verify, so banding drift (not
    just output plausibility) fails the gate. Production callers default to
    the faster xxhash64 family; precision/recall vs exact Jaccard are
    covered by unit tests for both."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup(
        docs, id_col="doc_id", text_col="text", max_hamming=3, hash_family="md5"
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# --------------------------------------------------------------------------- #
# Multimodal: binary payload plumbing via Arrow-batched mapInPandas.
# --------------------------------------------------------------------------- #

_PAYLOAD_ORACLE = """
SELECT
  doc_id,
  'text/plain' AS media_type,
  octet_length(encode(text)) AS payload_len,
  md5(text) AS payload_md5
FROM documents
"""


@register("binary_payload_features", oracle=_PAYLOAD_ORACLE, tags=("multimodal",))
def binary_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the multimodal mapInPandas
    operator; the oracle independently recomputes length+digest, verifying
    the Arrow binary round trip byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_text_payloads(docs)
    return extract_payload_features(payloads).select(
        "doc_id", "media_type", "payload_len", "payload_md5"
    )


_FRAME_STATS_ORACLE = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
SELECT doc_id,
  CASE WHEN len < 256 THEN 1 ELSE (len // 256 + 3) // 4 END AS n_frames,
  CASE WHEN len < 256 THEN len ELSE 256 * ((len // 256 + 3) // 4) END AS frame_bytes
FROM d
"""


@register("frame_sample_stats", oracle=_FRAME_STATS_ORACLE, tags=("multimodal",))
def frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling (1 payload row → N frame rows through the
    mapInPandas flatMap) verified by aggregate: the oracle recomputes the
    expected frame count and byte volume per document arithmetically."""
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_text_payloads(docs), frame_size=256, stride=4)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame_payload")).alias("frame_bytes"),
    )


def _id_spread(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """doc_id-only frame spread across the session's cores, feeding every
    payload-synthesis catalog below (round 15, generalizing the round-14
    GIF fix): the small-SF documents parquet is ONE row group → one scan
    task, so without a spread the whole encode+decode codec stage runs
    single-core on a 32-way session (measured: video_keyframe_dhash 4.4 s
    noop at sf0.1, ~10× its spread cost). The repartition exchanges ONLY
    doc_id — payload bytes are synthesized AFTER the exchange and never
    cross one — and at 100 TB, where the scan has ample splits of its own,
    the id-only exchange stays negligible next to the codec work it
    load-balances (it also evens out per-blob decode-cost skew).

    Applied ONLY where the per-blob codec cost clears the exchange's own
    price (~0.1-0.2 s at sf0.1): PNG/GIF/WebP/JPEG image codecs and both
    video container paths. Measured same-session A/B at sf0.1 (round 15):
    png 1.42→0.77 s, video 4.4→1.5 s, avi 4.1→1.7 s noop; but the cheap
    paths LOSE — bmp 0.67→0.75 s, wav fingerprint 0.55→0.73 s — so the
    BMP/audio/MP4/MP3 catalogs (0.03-0.26 ms/blob) stay unspread."""
    return docs.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )


# --------------------------------------------------------------------------- #
# Real image decode through mapInArrow: synthesize a two-tone BMP per doc,
# decode it with the pure-stdlib BMP codec, emit per-image pixel statistics.
# The image parameters are modular arithmetic on doc_id, so the oracle
# recomputes every decoded stat exactly — a full value-hash check on an
# actual binary decode path (not just plumbing).
# --------------------------------------------------------------------------- #

_IMAGE_STATS_ORACLE = """
SELECT doc_id,
       16 + doc_id % 13 AS img_width,
       2 * (8 + doc_id % 11) AS img_height,
       ((doc_id * 7) % 256 + (doc_id * 17) % 256) / 2.0 AS mean_r,
       ((doc_id * 11) % 256 + (doc_id * 19) % 256) / 2.0 AS mean_g,
       ((doc_id * 13) % 256 + (doc_id * 23) % 256) / 2.0 AS mean_b
FROM documents
"""


@register("image_decode_stats", oracle=_IMAGE_STATS_ORACLE, tags=("multimodal",))
def image_decode_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end binary image path: encode (mapInPandas) → decode + stats
    (mapInArrow, pyarrow RecordBatches, no pandas materialization of the
    payload column). The BMP codec is real (operators/multimodal.py:encode_bmp
    /decode_bmp); two-tone images with even height make the channel means
    exact, so DuckDB reproduces them from the id arithmetic alone."""
    from ..operators.multimodal import attach_fake_bmp_payloads, image_decode_stats

    docs = load_table(spark, sf_dir, "documents")
    return image_decode_stats(attach_fake_bmp_payloads(docs))


# --------------------------------------------------------------------------- #
# Perceptual image hashing + audio features, driver-gated end-to-end: the
# payloads are REAL container bytes (BMP / RIFF WAV) synthesized from modular
# arithmetic on doc_id, so a DuckDB oracle replays the decoded result of the
# whole encode → decode → hash/feature pipeline without any image/audio
# library. The textured generator makes dHash gradients nontrivial (the
# two-tone images above hash to 0), and the grouped variant plants Hamming-
# 0/1 near-dup pairs the banded LSH join must recover exactly.
# --------------------------------------------------------------------------- #


def _dhash_oracle_sql(grouped: bool) -> str:
    """(doc_id, dhash) replay of operators/multimodal.py:_textured_pixels +
    dhash64: pixel p(y,x) = (g·(7+x) + 13yx + 31y) mod 250 (+ member index
    at (0,0) when grouped), 9×8 thumbnail rows r_i = (i·h) DIV 8 / cols
    c_j = (j·w) DIV 9, bit(i,j) = p(r_i, c_{j+1}) > p(r_i, c_j) packed
    big-endian with bit (0,0) at 2^63 — reproduced in int64 two's
    complement by pinning the k=0 term to the sign bit."""
    g = "(doc_id // 4)" if grouped else "doc_id"

    def pix(y: str, x: str) -> str:
        base = f"((g * (7 + ({x})) + 13 * ({y}) * ({x}) + 31 * ({y})) % 250)"
        if grouped:
            return (
                f"({base} + CASE WHEN ({y}) = 0 AND ({x}) = 0"
                f" THEN doc_id % 4 ELSE 0 END)"
            )
        return base

    r = "((i * h) // 8)"
    c0 = "((j * w) // 9)"
    c1 = "(((j + 1) * w) // 9)"
    return f"""
WITH geo AS (
  SELECT doc_id, {g} AS g,
         16 + {g} % 13 AS w, 2 * (8 + {g} % 11) AS h
  FROM documents
),
ij AS (
  SELECT ii.i AS i, jj.j AS j
  FROM (SELECT unnest(range(8)) AS i) ii, (SELECT unnest(range(8)) AS j) jj
),
b AS (
  SELECT doc_id, i * 8 + j AS k,
         CASE WHEN {pix(r, c1)} > {pix(r, c0)} THEN 1 ELSE 0 END AS bit
  FROM geo, ij
)
SELECT doc_id,
       CAST(SUM(CASE WHEN k > 0
                     THEN bit * (CAST(1 AS BIGINT) << (63 - k)) ELSE 0 END)
            + MAX(CASE WHEN k = 0 THEN bit ELSE 0 END)
              * (-9223372036854775807 - 1)
            AS BIGINT) AS dhash
FROM b GROUP BY doc_id
"""


_IMAGE_NEAR_DUP_ORACLE = f"""
WITH h AS ({_dhash_oracle_sql(grouped=True)})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""


@register("image_dhash_catalog", oracle=_dhash_oracle_sql(False),
          tags=("multimodal", "dedup", "bench"))
def image_dhash_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual dHash per image through the REAL binary path:
    textured BMP encode (mapInPandas) → BMP decode + grayscale + 9×8
    thumbnail + gradient-sign pack (mapInArrow). The oracle recomputes all
    64 bits from the pixel arithmetic — a wrong stride, row flip, BGR swap,
    or bit order in the codec fails the hash, not just a unit test.
    Comparisons are grayscale-monotone in the integer pixel values, so the
    float luma weights cannot split engines."""
    from ..operators.multimodal import (
        attach_fake_textured_bmp_payloads,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_dhash(attach_fake_textured_bmp_payloads(docs))


@register("image_dhash_catalog_png", oracle=_dhash_oracle_sql(False),
          tags=("multimodal", "dedup", "bench"))
def image_dhash_catalog_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``image_dhash_catalog`` through the COMPRESSED format path: the same
    textured pixels encoded as real PNG (zlib DEFLATE + scanline filter,
    ``operators/multimodal.py:encode_png``) instead of raw BMP, decoded by
    the pure-stdlib inflate+unfilter decoder inside the same mapInArrow
    dHash stage. The oracle is IDENTICAL to the BMP catalog's — pixel
    arithmetic replayed from doc_id — so a hash match certifies the whole
    compressed encode → decode roundtrip bit-for-bit under the driver gate
    (a wrong filter reconstruction, CRC-region slip, or channel-order bug
    fails 64 bits per image, not a unit test). Decode cost rides executor-
    side in Arrow batches exactly like the BMP path; format choice is
    invisible to every operator past ``decode_image``."""
    from ..operators.multimodal import (
        attach_fake_textured_png_payloads,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_dhash(attach_fake_textured_png_payloads(_id_spread(spark, docs)))


_WARC_ORACLE = """
SELECT
  'urn:uuid:' || substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-'
    || substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-'
    || substr(h, 21, 12) AS record_id,
  'conversion' AS warc_type,
  'http://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
  CAST(octet_length(ENCODE(COALESCE(text, ''))) AS BIGINT)
    AS content_length,
  COALESCE(text, '') AS text
FROM (
  SELECT doc_id, text, md5('warc|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
"""


@register("warc_roundtrip_documents", oracle=_WARC_ORACLE,
          tags=("source", "bench"))
def warc_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) container support certified end-to-end: pack the
    documents table into real Common Crawl-layout WARC blobs (one gzip
    MEMBER per record, members concatenated — the framing that gives
    petabyte archives per-record random access), then parse them back
    with the production reader (``sources/warc.py``). The oracle replays
    every parsed field from the table — the urn:uuid record id (md5
    grouped 8-4-4-4-12), target URI, UTF-8 Content-Length byte
    accounting, and the body text — so a one-byte framing slip, header
    grammar error, or length miscount anywhere in writer or parser fails
    the value hash on every record. Scale shape: both sides are scan-side
    Arrow stages; blob bytes never cross an exchange, and at 100 TB the
    parse side points at ``spark.read.format("binaryFile")`` over the
    crawl with the same per-blob member walk."""
    from ..sources.warc import build_warc_payloads, warc_records_from_payloads

    docs = load_table(spark, sf_dir, "documents")
    # strict decode: we wrote these blobs, so a framing slip must RAISE,
    # not smear into U+FFFD (production default is tolerant "replace").
    return warc_records_from_payloads(
        build_warc_payloads(docs), errors="strict"
    )


@register("image_dhash_catalog_gif", oracle=_dhash_oracle_sql(False),
          tags=("multimodal", "dedup", "bench"))
def image_dhash_catalog_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``image_dhash_catalog`` through the palette-format path: the same
    textured pixels encoded as real INTERLACED GIF (variable-width LZW,
    four-pass row order, ``operators/gif.py``), decoded by the pure-stdlib
    LZW decoder inside the same mapInArrow dHash stage. GIF is lossless
    for ≤256-color images (the textured generator is grayscale mod-250 by
    construction), so the oracle is IDENTICAL to the BMP/PNG catalogs' —
    a hash match certifies palette build, LZW roundtrip, dictionary
    growth/reset, and de-interlacing bit-for-bit under the driver gate.
    Interlace is deliberately ON: it is the layout web-crawled GIFs carry
    and the row-reassembly path a unit test could fake is certified here
    on 64 bits per image."""
    from ..operators.multimodal import (
        attach_fake_textured_gif_payloads,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_dhash(
        attach_fake_textured_gif_payloads(
            _id_spread(spark, docs), interlace=True
        )
    )


@register("image_dhash_catalog_webp", oracle=_dhash_oracle_sql(False),
          tags=("multimodal", "dedup"))
def image_dhash_catalog_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``image_dhash_catalog`` through the web-native format path: the
    same textured pixels encoded as real lossless WebP (VP8L — canonical
    prefix codes, code-length code, subtract-green transform, color
    cache, left-run LZ77; ``operators/webp.py``), decoded by the
    pure-stdlib bitstream reader inside the same mapInArrow dHash stage.
    VP8L is lossless, so the oracle is IDENTICAL to the BMP/PNG/GIF
    catalogs' — a hash match certifies the whole entropy-coding stack
    (Kraft-complete code construction, the 16/17/18 run grammar, cache
    hashing, LZ77 distance mapping) bit-for-bit under the driver gate,
    64 bits per image. Decode rides executor-side Arrow batches like
    every codec in the family; at 100 TB the cost is scan-side per-core
    milliseconds, never an exchange."""
    from ..operators.multimodal import (
        attach_fake_textured_webp_payloads,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_dhash(attach_fake_textured_webp_payloads(_id_spread(spark, docs)))


@register("image_dhash_catalog_webp_palette", oracle=_dhash_oracle_sql(False),
          tags=("multimodal", "dedup"))
def image_dhash_catalog_webp_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``image_dhash_catalog_webp`` through the COLOR-INDEXING transform —
    the VP8L layout cwebp actually picks for screenshot/chart corpora:
    the textured pixels (grayscale mod-250, within the 256-color budget)
    ride as a delta-coded palette sub-image plus an index-packed main
    image, decoded by the same pure-stdlib bitstream reader. Lossless, so
    the identical pixel-replay oracle certifies the palette build, the
    delta accumulation, pixel bundling, and the transform-stack inverse
    order bit-for-bit — 64 bits per image under the driver gate."""
    from ..operators.multimodal import (
        attach_fake_textured_webp_payloads,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_dhash(
        attach_fake_textured_webp_payloads(_id_spread(spark, docs), palette=True)
    )


@register("image_dhash_catalog_webp_predictor", oracle=_dhash_oracle_sql(False),
          tags=("multimodal", "dedup"))
def image_dhash_catalog_webp_predictor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``image_dhash_catalog_webp`` through the PREDICTOR transform — the
    VP8L layout real ``cwebp -lossless`` output carries on virtually
    every photographic/non-palette image: per-tile argmin mode selection
    over the 14 RFC 9649 §4.2.1 modes (encoder side: vectorized
    per-plane forward pass), residuals entropy-coded, decoded by the
    independent packed-int scan-order inverse — composed with
    subtract-green in the stream order cwebp uses. Lossless, so the
    identical pixel-replay oracle certifies the whole mode arithmetic
    (average floors, Select distances, clamp-add-subtract variants, the
    rightmost-column TR rule) bit-for-bit — 64 bits per image under the
    driver gate."""
    from ..operators.multimodal import (
        attach_fake_textured_webp_payloads,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_dhash(
        attach_fake_textured_webp_payloads(_id_spread(spark, docs), predictor=True)
    )


@register("image_dhash_catalog_webp_full", oracle=_dhash_oracle_sql(False),
          tags=("multimodal", "dedup", "bench"))
def image_dhash_catalog_webp_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE real-cwebp VP8L layout in one certified stream:
    subtract-green + 14-mode predictor + cross-color (per-tile
    3.5-fixed-point multipliers) transforms composed in cwebp stream
    order, color cache, AND a meta-prefix entropy image (two prefix-code
    groups in a per-tile checkerboard, every token coded by its starting
    pixel's group). Decoding inverts the whole stack in reverse read
    order — with this row green, no lossless feature a real ``cwebp
    -lossless`` file carries routes to pillow. Lossless, so the
    identical pixel-replay oracle certifies group dispatch, the delta
    arithmetic (int8 casts, arithmetic >>5), and the three-transform
    inverse ordering bit-for-bit — 64 bits per image under the driver
    gate."""
    from ..operators.multimodal import (
        attach_fake_textured_webp_payloads,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_dhash(
        attach_fake_textured_webp_payloads(
            _id_spread(spark, docs),
            predictor=True,
            cross_color=True,
            meta_prefix_bits=2,
        )
    )


_WARC_CURATION_ORACLE = """
WITH r AS (
  SELECT
    'urn:uuid:' || substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-'
      || substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-'
      || substr(h, 21, 12) AS record_id,
    'http://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
    CAST(octet_length(ENCODE(COALESCE(text, ''))) AS BIGINT)
      AS content_length,
    COALESCE(text, '') AS txt
  FROM (
    SELECT doc_id, text, md5('warc|' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
  )
), q AS (
  SELECT record_id, uri, content_length, txt,
         CAST(len(string_split(lower(txt), ' ')) AS BIGINT) AS n_tokens,
         len(list_distinct(string_split(lower(txt), ' ')))
           / len(string_split(lower(txt), ' ')) AS ttr
  FROM r
), g AS (
  SELECT *, (n_tokens BETWEEN 10 AND 1000) AND (ttr > 0.2) AS ok FROM q
)
SELECT record_id, uri, content_length, n_tokens,
       ok AS passes_quality,
       ok AND record_id = MIN(CASE WHEN ok THEN record_id END)
         OVER (PARTITION BY txt) AS kept
FROM g
"""


@register("warc_curation_pipeline", oracle=_WARC_CURATION_ORACLE,
          tags=("source", "curation", "text"))
def warc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl archive → training corpus in ONE certified plan — three
    individually-certified operators COMPOSED (the
    ``conversion_latency_ddsketch`` pattern): pack the documents table
    into real multi-member-gzip WARC blobs, parse them back with the
    production reader (``sources/warc.py``), run the cheap quality gate
    (token length band + lexical diversity, the ``doc_quality_scores``
    formulas), then exact-dedup the SURVIVORS by body text
    (first-record-id wins). Output is the full curation report: every
    crawl record with its quality verdict and final kept flag. The
    oracle replays the whole chain from the documents table — container
    framing, UTF-8 byte accounting, tokenizer arithmetic, and the
    gate-then-dedup ordering — so a slip anywhere in the composition
    fails the value hash. Scale shape: WARC bytes stay scan-side
    (mapInPandas), the gate is JVM column arithmetic, and the dedup is
    one window over a text-hash partition — the same shuffles the
    standalone pieces pay, nothing quadratic."""
    from pyspark.sql import Window

    from ..functions.text import distinct_token_count, token_count, tokenize
    from ..sources.warc import build_warc_payloads, warc_records_from_payloads

    docs = load_table(spark, sf_dir, "documents")
    records = warc_records_from_payloads(
        build_warc_payloads(docs), errors="strict"
    )
    toks = tokenize("text")
    scored = records.select(
        "record_id", "uri", "content_length", "text",
        token_count(toks).alias("n_tokens"),
        (distinct_token_count(toks) / token_count(toks)).alias("ttr"),
    ).withColumn(
        "passes_quality",
        F.col("n_tokens").between(10, 1000) & (F.col("ttr") > 0.2),
    )
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    return scored.select(
        "record_id", "uri", "content_length", "n_tokens", "passes_quality",
        (
            F.col("passes_quality")
            & (
                F.col("record_id")
                == F.min(
                    F.when(F.col("passes_quality"), F.col("record_id"))
                ).over(w)
            )
        ).alias("kept"),
    )


_JPEG_DIMS_ORACLE = """
SELECT doc_id,
       CAST(16 + doc_id % 13 AS BIGINT) AS img_width,
       CAST(2 * (8 + doc_id % 11) AS BIGINT) AS img_height
FROM documents
"""


@register("image_jpeg_decode_dims", oracle=_JPEG_DIMS_ORACLE,
          tags=("multimodal",))
def image_jpeg_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOSSY-format member of the image catalog family: the same
    textured pixels encoded as real baseline JPEG (huffman entropy coding
    + DCT + quantization, ``operators/jpeg.py``), decoded through the same
    ``decode_image`` dispatch inside mapInArrow, emitting per-image
    dimensions. The oracle is deliberately structure-only: JPEG is lossy
    and the spec licenses ±1-2 LSB IDCT variance, so a pixel value-hash
    would be dishonest cross-engine — dimensions survive the
    pad-to-MCU-grid → crop roundtrip exactly, so a wrong SOF parse, MCU
    geometry, or crop bound fails the hash here, while pixel fidelity is
    certified by tests/test_jpeg.py (roundtrip error bounds + published
    Annex-K table spot checks). Scale shape: identical to the BMP/PNG
    catalogs — synthesis and decode are scan-side Arrow batches, no
    exchange carries payload bytes."""
    from ..operators.multimodal import (
        attach_fake_textured_jpeg_payloads,
        image_decode_dims,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_decode_dims(attach_fake_textured_jpeg_payloads(_id_spread(spark, docs)))


def _video_dhash_oracle_sql(stride: int = 2, grouped: bool = False) -> str:
    """(doc_id, frame_idx, dhash) replay of operators/multimodal.py:
    _textured_frame_pixels + dhash64 over the sampled keyframes: pixel
    p(y, x) = (g·(7+x) + 13yx + 31y + f·(5+x)) mod 250, geometry fixed per
    video, frame count 4 + g % 5, every ``stride``-th frame sampled. Same
    9×8 thumbnail and sign-bit int64 packing as the image oracle. With
    ``grouped``, g = doc_id // 4 and the member index perturbs pixel (0,0)
    of frame 0 only."""
    g = "(doc_id // 4)" if grouped else "doc_id"

    def pix(y: str, x: str) -> str:
        base = (
            f"((g * (7 + ({x})) + 13 * ({y}) * ({x}) + 31 * ({y})"
            f" + f * (5 + ({x}))) % 250)"
        )
        if grouped:
            return (
                f"({base} + CASE WHEN ({y}) = 0 AND ({x}) = 0 AND f = 0"
                f" THEN doc_id % 4 ELSE 0 END)"
            )
        return base

    r = "((i * h) // 8)"
    c0 = "((j * w) // 9)"
    c1 = "(((j + 1) * w) // 9)"
    return f"""
WITH geo AS (
  SELECT doc_id, {g} AS g, 16 + {g} % 13 AS w, 2 * (8 + {g} % 11) AS h,
         4 + {g} % 5 AS nf
  FROM documents
),
fr AS (
  SELECT doc_id, g, w, h, ff.f AS f
  FROM geo, (SELECT unnest(range(9)) AS f) ff
  WHERE ff.f < nf AND ff.f % {stride} = 0
),
ij AS (
  SELECT ii.i AS i, jj.j AS j
  FROM (SELECT unnest(range(8)) AS i) ii, (SELECT unnest(range(8)) AS j) jj
),
b AS (
  SELECT doc_id, f, i * 8 + j AS k,
         CASE WHEN {pix(r, c1)} > {pix(r, c0)} THEN 1 ELSE 0 END AS bit
  FROM fr, ij
)
SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(SUM(CASE WHEN k > 0
                     THEN bit * (CAST(1 AS BIGINT) << (63 - k)) ELSE 0 END)
            + MAX(CASE WHEN k = 0 THEN bit ELSE 0 END)
              * (-9223372036854775807 - 1)
            AS BIGINT) AS dhash
FROM b GROUP BY doc_id, f
"""


@register("video_keyframe_dhash", oracle=_video_dhash_oracle_sql(),
          tags=("multimodal", "dedup", "bench"))
def video_keyframe_dhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-keyframe perceptual hashes through the REAL video path: container
    encode (4 + id % 5 textured BMP frames, mapInPandas) → container walk +
    frame decode + dHash for every 2nd frame (mapInArrow). The oracle
    replays all 64 bits of every sampled frame from the (id, frame) pixel
    arithmetic — a wrong length prefix, frame order, stride, or codec bit
    fails the value hash. Composing ``image_near_dup_pairs`` over this
    output is the video near-dup join (same banded pigeonhole); the frame
    axis parallelizes map-side, so at 100 TB the cost is decode-bound and
    divided by executors, with only (id, frame, 8-byte hash) rows ever
    shuffling."""
    from ..operators.multimodal import (
        attach_fake_video_payloads,
        video_keyframe_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_keyframe_dhash(
        attach_fake_video_payloads(_id_spread(spark, docs)), stride=2
    )


def _video_near_dup_oracle() -> str:
    return f"""
WITH h AS ({_video_dhash_oracle_sql(grouped=True)})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(COUNT(*) AS BIGINT) AS n_close_frames
FROM h a
JOIN h b ON a.frame_idx = b.frame_idx AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
GROUP BY a.doc_id, b.doc_id
"""


@register("video_near_dup_pairs", oracle=_video_near_dup_oracle(),
          tags=("multimodal", "dedup"))
def video_near_dup_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs over a planted population: docs sharing
    doc_id DIV 4 render the same video up to a one-pixel perturbation of
    frame 0, so within-group videos match on every sampled keyframe
    (Hamming 0–1 on frame 0, 0 elsewhere). The Spark side runs the
    frame-aligned banded pigeonhole join (operators/multimodal.py:
    video_near_dup_pairs — per-frame candidates, never the |videos|² pair
    space); the DuckDB oracle brute-forces all frame-aligned pairs from the
    replayed hashes, so band-split recall loss OR a miscounted shared-frame
    total fails the gate."""
    from ..operators.multimodal import (
        attach_fake_video_payloads,
        video_keyframe_dhash,
        video_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashes = video_keyframe_dhash(
        attach_fake_video_payloads(_id_spread(spark, docs), group=4), stride=2
    )
    return video_near_dup_pairs(hashes, max_hamming=3)


@register("video_keyframe_dhash_avi", oracle=_video_dhash_oracle_sql(),
          tags=("multimodal", "dedup", "bench"))
def video_keyframe_dhash_avi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``video_keyframe_dhash`` through a REAL container: the same textured
    frames packed as a spec-shaped RIFF/AVI (LIST hdrl/strl headers, movi
    chunk walk, idx1 index, word alignment — operators/avi.py) with the
    uncompressed DIB codec, then demuxed and hashed by the production
    reader. DIB is lossless, so the oracle is IDENTICAL to the synthetic
    container's full 64-bit pixel replay — a wrong chunk offset, stride
    slip, row flip (DIB is bottom-up BGR), or alignment miss fails the
    value hash on every sampled frame. The lossy MJPEG leg of the same
    container is certified structurally by ``video_avi_mjpeg_structure``
    (lossy codecs never get pixel-value oracles) and for fidelity in
    pytest (dHash proximity to this lossless path)."""
    from ..operators.avi import attach_fake_avi_payloads, avi_keyframe_dhash

    docs = load_table(spark, sf_dir, "documents")
    return avi_keyframe_dhash(
        attach_fake_avi_payloads(_id_spread(spark, docs), codec="DIB "), stride=2
    )


_AVI_MJPEG_STRUCT_ORACLE = """
SELECT doc_id,
       CAST(4 + doc_id % 5 AS BIGINT) AS n_frames,
       CAST(16 + doc_id % 13 AS BIGINT) AS img_width,
       CAST(2 * (8 + doc_id % 11) AS BIGINT) AS img_height
FROM documents
"""


@register("video_avi_mjpeg_structure", oracle=_AVI_MJPEG_STRUCT_ORACLE,
          tags=("multimodal",))
def video_avi_mjpeg_structure_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG-in-AVI certified end-to-end on its exact invariants: every
    textured frame rides as a REAL baseline JPEG inside '00dc' chunks of
    a real AVI, and the production demux + JPEG decode must recover the
    exact frame count and geometry per video — both replayed by the
    oracle from doc_id. Pixel VALUES are deliberately outside the oracle
    (JPEG IDCT variance is spec-licensed; the image_jpeg_decode_dims
    split): fidelity is asserted in pytest via dHash proximity to the
    lossless DIB leg. One bad chunk size, a missed word-alignment pad on
    an odd-length JPEG, or a truncated scan fails the decode loudly and
    with it this row."""
    from ..operators.avi import attach_fake_avi_payloads, avi_video_structure

    docs = load_table(spark, sf_dir, "documents")
    return avi_video_structure(
        attach_fake_avi_payloads(_id_spread(spark, docs), codec="MJPG")
    )


_MP4_META_ORACLE = """
WITH p AS (
  SELECT doc_id,
         600 + 300 * (doc_id % 5) AS ts,
         (2 + doc_id % 7) * (600 + 300 * (doc_id % 5)) + doc_id % 13 AS dur
  FROM documents
)
SELECT doc_id,
       CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
       CAST(ts AS BIGINT) AS timescale,
       CAST(CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END AS BIGINT)
         AS n_tracks,
       'vide' AS handler,
       CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
            ELSE 'vp09' END AS codec,
       CAST(320 + 16 * (doc_id % 8) AS BIGINT) AS img_width,
       CAST(240 + 16 * (doc_id % 5) AS BIGINT) AS img_height,
       CAST(24 + doc_id % 40 AS BIGINT) AS n_samples,
       doc_id % 5 = 2 AS has_edit_list,
       CAST(CASE WHEN doc_id % 5 = 2
                 THEN (dur + 10 + doc_id % 50) * 1000 // ts
                 ELSE dur * 1000 // ts END AS BIGINT) AS presentation_ms
FROM p
"""


@register("mp4_metadata_catalog", oracle=_MP4_META_ORACLE,
          tags=("multimodal", "source"))
def mp4_metadata_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-corpus triage through real ISO-BMFF: every row synthesizes a
    structurally real MP4 (ftyp + full moov tree: mvhd/trak/tkhd/mdia/
    mdhd/hdlr/minf/stbl with stsd sample entry + stsz, then mdat), and
    the production box walker extracts duration/timescale/track/codec/
    dimensions/sample-count WITHOUT touching sample data — the pass a
    100-TB pipeline runs before any decoder, so cost is per-blob
    microseconds regardless of media size. A quarter of the corpus
    carries an AUDIO TRACK FIRST (real-muxer layout: video fields must
    come from the hdlr=='vide' trak, not file order) and a fifth an
    edts/elst edit list (presentation_ms must replay the segment sum,
    not the container duration). The oracle replays every field from
    doc_id integer arithmetic, so a box-size slip, version mishandling,
    wrong fixed-point width read, stsd offset error, un-gated track
    walk, or elst miscount fails the value hash on every row."""
    from ..operators.mp4 import attach_fake_mp4_payloads, mp4_metadata

    docs = load_table(spark, sf_dir, "documents")
    return mp4_metadata(attach_fake_mp4_payloads(docs))


_MP3_META_ORACLE = """
WITH p AS (
  SELECT doc_id,
         40 + doc_id % 80 AS nf,
         doc_id % 7 AS vsel,
         doc_id % 3 AS c
  FROM documents
), q AS (
  SELECT doc_id, nf,
         CASE WHEN vsel < 5 THEN '1' WHEN vsel = 5 THEN '2'
              ELSE '2.5' END AS ver,
         CASE WHEN vsel < 5
              THEN CASE c WHEN 0 THEN 96 WHEN 1 THEN 128 ELSE 192 END
              ELSE CASE c WHEN 0 THEN 48 WHEN 1 THEN 64 ELSE 80 END
         END AS br,
         CASE WHEN vsel < 5
              THEN CASE c WHEN 0 THEN 44100 WHEN 1 THEN 48000
                   ELSE 32000 END
              WHEN vsel = 5
              THEN CASE c WHEN 0 THEN 22050 WHEN 1 THEN 24000
                   ELSE 16000 END
              ELSE CASE c WHEN 0 THEN 11025 WHEN 1 THEN 12000
                   ELSE 8000 END
         END AS sr,
         CASE WHEN vsel < 5 THEN 1152 ELSE 576 END AS spf
  FROM p
)
SELECT doc_id,
       ver AS mpeg_version,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf * spf * 1000 // sr AS BIGINT) AS duration_ms,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(br AS BIGINT) AS bitrate_kbps,
       CAST(nf * ((spf // 8) * br * 1000 // sr) AS BIGINT)
         AS total_audio_bytes
FROM q
"""


@register("mp3_metadata_catalog", oracle=_MP3_META_ORACLE,
          tags=("multimodal", "source"))
def mp3_metadata_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-corpus triage through real Layer III framing across ALL
    THREE MPEG versions: each row synthesizes a structurally real CBR
    MP3 (ID3v2 tag with syncsafe size, correct frame headers, computed
    frame lengths) and the production walker hops headers to recover
    version, frame count, duration, sample rate, bitrate, and audio
    byte total — no audio decode. Two sevenths of the corpus is
    MPEG-2 / MPEG-2.5 (576-sample frames, the halved/quartered
    sample-rate tables, the low-rate bitrate table — what voice and
    podcast corpora actually carry). The oracle replays the per-version
    tables and the (spf/8)·br/sr frame-length formula from doc_id, so a
    sync slip, version-bit misread, table index error, padding
    mishandling, or ID3 skip bug fails every row."""
    from ..operators.mp3 import attach_fake_mp3_payloads, mp3_metadata

    docs = load_table(spark, sf_dir, "documents")
    return mp3_metadata(attach_fake_mp3_payloads(docs))


@register("image_near_dup_pairs", oracle=_IMAGE_NEAR_DUP_ORACLE,
          tags=("multimodal", "dedup"))
def image_near_dup_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs (dHash Hamming ≤ 3) over a planted population:
    docs sharing doc_id DIV 4 render the same textured image up to a one-
    pixel perturbation that moves at most the top-left thumbnail bit, so
    within-group pairs sit at distance 0–1. The Spark side runs the banded
    pigeonhole LSH join (operators/multimodal.py:image_near_dup_pairs —
    never the n² pair space); the oracle brute-forces all pairs, so any
    band-split recall loss fails the gate."""
    from ..operators.multimodal import (
        attach_fake_textured_bmp_payloads,
        image_dhash,
        image_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashes = image_dhash(attach_fake_textured_bmp_payloads(docs, group=4))
    return image_near_dup_pairs(hashes, max_hamming=3)


_AUDIO_FEATURES_ORACLE = """
WITH d AS (SELECT doc_id, 400 + doc_id % 37 AS n FROM documents),
s AS (
  SELECT d.doc_id, d.n, ii.i AS i,
         ((d.doc_id * 31 + 7 * ii.i * ii.i + 13 * ii.i) % 4001) - 2000 AS v
  FROM d, (SELECT unnest(range(437)) AS i) ii
  WHERE ii.i < d.n
),
w AS (
  SELECT doc_id, n, i, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST((MAX(n) * 1000) // 16000 AS BIGINT) AS duration_ms,
       sqrt(CAST(SUM(v * v) AS DOUBLE) / MAX(n)) AS rms,
       CAST(MAX(abs(v)) AS BIGINT) AS peak,
       CAST(COUNT(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
                       THEN 1 END) AS BIGINT) AS zero_crossings
FROM w GROUP BY doc_id
"""


_AUDIO_G711_ORACLE = """
WITH d AS (SELECT doc_id, 400 + doc_id % 37 AS n FROM documents),
s0 AS (
  SELECT d.doc_id, d.n, ii.i AS i,
         ((d.doc_id * 31 + 7 * ii.i * ii.i + 13 * ii.i) % 4001) - 2000 AS v0
  FROM d, (SELECT unnest(range(437)) AS i) ii
  WHERE ii.i < d.n
),
g AS (  -- ITU-T G.711 mu-law compress -> expand, replayed as integers
  SELECT doc_id, n, i,
         CASE WHEN v0 < 0 THEN -1 ELSE 1 END AS sgn,
         least(abs(v0), 32635) + 132 AS mag
  FROM s0
),
e AS (
  SELECT doc_id, n, i, sgn, mag,
         CASE WHEN mag < 256 THEN 0 WHEN mag < 512 THEN 1
              WHEN mag < 1024 THEN 2 WHEN mag < 2048 THEN 3
              WHEN mag < 4096 THEN 4 WHEN mag < 8192 THEN 5
              WHEN mag < 16384 THEN 6 ELSE 7 END AS ex
  FROM g
),
s AS (
  SELECT doc_id, n, i,
         sgn * (((((mag >> (ex + 3)) & 15) * 8 + 132) << ex) - 132) AS v
  FROM e
),
w AS (
  SELECT doc_id, n, i, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST((MAX(n) * 1000) // 8000 AS BIGINT) AS duration_ms,
       sqrt(CAST(SUM(v * v) AS DOUBLE) / MAX(n)) AS rms,
       CAST(MAX(abs(v)) AS BIGINT) AS peak,
       CAST(COUNT(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
                       THEN 1 END) AS BIGINT) AS zero_crossings
FROM w GROUP BY doc_id
"""


@register("audio_feature_catalog_g711", oracle=_AUDIO_G711_ORACLE,
          tags=("multimodal",))
def audio_feature_catalog_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``audio_feature_catalog`` through the TELEPHONY codec path: the same
    integer sample recurrence companded to 8-bit G.711 µ-law (fmt tag 7,
    18-byte fmt + fact chunk — what call-center/speech corpora actually
    carry), then expanded back by the production decoder and featurized.
    Compress → expand is pure integer arithmetic (segment ladder + 4-bit
    mantissa), so the oracle replays the ENTIRE companding pipeline in
    SQL — a wrong bias, segment boundary, mantissa shift, or sign
    convention shifts decoded samples and fails RMS/peak/zero-crossing
    bit-exactly. The A-law twin and the ±0-codeword identification are
    pytest-covered (tests/test_audio.py)."""
    from ..operators.multimodal import (
        attach_fake_g711_payloads,
        audio_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_features(attach_fake_g711_payloads(docs, law="mulaw"))


@register("audio_feature_catalog", oracle=_AUDIO_FEATURES_ORACLE,
          tags=("multimodal",))
def audio_feature_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip audio features through the real RIFF/WAVE path: PCM16 WAV
    encode (mapInPandas) → chunk-walking decode + numpy signal math
    (mapInArrow). The oracle replays the sample recurrence; RMS is gate-
    safe because the squared-sample sum stays below 2^53 (exact in float64
    under ANY summation order), so sqrt(sum/n) is bit-identical
    cross-engine."""
    from ..operators.multimodal import attach_fake_wav_payloads, audio_features

    docs = load_table(spark, sf_dir, "documents")
    return audio_features(attach_fake_wav_payloads(docs))


def _audio_fp_oracle_sql(group: int) -> str:
    """Replay the 63-bit frame-energy fingerprint from the integer sample
    recurrence. Bits pack with bit_or (NOT SUM: DuckDB SUM(BIGINT) is
    HUGEINT — the dtype-class drift the round-9 lesson flagged)."""
    base = (
        f"SELECT doc_id, doc_id // {group} AS g, doc_id % {group} AS m "
        "FROM documents"
        if group > 1
        else "SELECT doc_id, doc_id AS g, 0 AS m FROM documents"
    )
    return f"""
WITH d AS ({base}),
p AS (SELECT doc_id, g, m, 400 + g % 37 AS n FROM d),
s AS (
  SELECT p.doc_id, p.n, ii.i AS i,
         ((p.g * 31 + 7 * ii.i * ii.i + 13 * ii.i) % 4001) - 2000
         + CASE WHEN (ii.i * 64) // p.n = 63 THEN p.m ELSE 0 END AS v
  FROM p, (SELECT unnest(range(437)) AS i) ii
  WHERE ii.i < p.n
),
fr AS (
  SELECT doc_id, (i * 64) // n AS f, SUM(v * v) AS e
  FROM s GROUP BY doc_id, (i * 64) // n
),
del AS (
  SELECT doc_id, f, e, LEAD(e) OVER (PARTITION BY doc_id ORDER BY f) AS ne
  FROM fr
)
SELECT doc_id,
       bit_or(CASE WHEN ne > e THEN CAST(1 AS BIGINT) << f
              ELSE CAST(0 AS BIGINT) END) AS fingerprint
FROM del WHERE ne IS NOT NULL GROUP BY doc_id
"""


_AUDIO_NEAR_DUP_ORACLE = f"""
WITH h AS ({_audio_fp_oracle_sql(4)})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS BIGINT)
         AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3
"""


@register("audio_fingerprint_catalog", oracle=_audio_fp_oracle_sql(1),
          tags=("multimodal", "dedup"))
def audio_fingerprint_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit perceptual audio fingerprint per clip through the real
    RIFF/WAVE path — the dHash idea on the time axis: PCM16 WAV encode
    (mapInPandas) → chunk-walking decode + 64-window integer frame
    energies + gradient-sign pack (mapInArrow). The oracle recomputes
    all 63 bits from the sample recurrence (frame assignment i·64//n,
    Σv² energies, LEAD comparison), so a frame-boundary slip, energy
    overflow, or bit-order bug fails the hash on every clip — the audio
    member of the image/video perceptual-hash family."""
    from ..operators.multimodal import (
        attach_fake_wav_payloads,
        audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_fingerprint(attach_fake_wav_payloads(docs))


@register("audio_near_dup_pairs", oracle=_AUDIO_NEAR_DUP_ORACLE,
          tags=("multimodal", "dedup"))
def audio_near_dup_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (fingerprint Hamming ≤ 3) over a planted
    population: clips sharing doc_id DIV 4 render the same waveform up
    to a member offset added ONLY inside the last energy window, so
    within-group pairs sit at distance 0–1 (only bit 62 can move). The
    Spark side runs the banded pigeonhole LSH join (hash-agnostic —
    literally ``image_near_dup_pairs`` over the fingerprint column,
    never the n² pair space); the oracle brute-forces all pairs, so any
    band-split recall loss fails the gate. Completes the
    image/video/audio near-dup symmetry."""
    from ..operators.multimodal import (
        attach_fake_wav_payloads,
        audio_fingerprint,
        audio_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_near_dup_pairs(
        audio_fingerprint(attach_fake_wav_payloads(docs, group=4))
    )


# --------------------------------------------------------------------------- #
# Python UDTF — the table-valued-function surface (SQL LATERAL), demonstrated
# on bigram expansion. For hot paths the JVM explode/mapInArrow routes above
# are preferred; a UDTF is the composable SQL-facing form of the same 1→N
# shape (user-defined operators callable from plain SQL text).
# --------------------------------------------------------------------------- #

try:  # pyspark ≥ 3.5
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="doc_id: bigint, bigram: string", useArrow=True)
    class _BigramUDTF:
        """Emit one row per adjacent token pair of the document text
        (tokenization identical to functions/text.py:tokenize)."""

        def eval(self, doc_id: int, text: str):  # noqa: D102
            if text is None:
                return
            toks = text.lower().split(" ")
            for a, b in zip(toks, toks[1:]):
                yield doc_id, f"{a} {b}"

except ImportError:  # pragma: no cover
    _BigramUDTF = None

_BIGRAM_ORACLE = """
SELECT t[i] || ' ' || t[i + 1] AS bigram,
       COUNT(*) AS freq,
       COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
     LATERAL unnest(range(1, len(t))) AS u(i)
GROUP BY bigram
HAVING COUNT(*) >= 5
"""


@register("bigram_frequencies", oracle=_BIGRAM_ORACLE, tags=("text", "udtf"))
def bigram_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram vocabulary (freq ≥ 5) through a Python UDTF invoked from
    SQL with LATERAL — the user-defined table function surface. The UDTF is
    Arrow-batched (``useArrow=True`` → ArrowEvalPythonUDTF: columnar batches
    cross the Python boundary, the eval loop runs per row inside the batch);
    this is still the flexibility tier — token_frequencies shows the pure-JVM
    explode equivalent — but the transfer path is the sanctioned Arrow one.
    The aggregation on top is ordinary JVM hash aggregation."""
    if _BigramUDTF is None:  # pragma: no cover
        raise NotImplementedError("Python UDTFs require pyspark >= 3.5")
    spark.udtf.register("bigrams_udtf", _BigramUDTF)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_for_bigrams")
    return spark.sql(
        """
        SELECT b.bigram, COUNT(*) AS freq, COUNT(DISTINCT d.doc_id) AS doc_freq
        FROM __docs_for_bigrams d, LATERAL bigrams_udtf(d.doc_id, d.text) b
        GROUP BY b.bigram
        HAVING COUNT(*) >= 5
        """
    )


# --------------------------------------------------------------------------- #
# Sentence segmentation — 1→N explode on a JVM regex split (no UDTF needed).
# --------------------------------------------------------------------------- #

_SENTENCES_ORACLE = """
SELECT doc_id, sentence_idx, sentence FROM (
  SELECT doc_id,
         unnest(range(len(parts))) AS sentence_idx,
         trim(unnest(parts)) AS sentence
  FROM (SELECT doc_id, string_split_regex(text, '[.!?]+') AS parts FROM documents)
)
WHERE sentence <> ''
"""


@register("doc_sentences", oracle=_SENTENCES_ORACLE, tags=("text",))
def doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation as a lateral explode of a JVM regex split —
    the idiomatic Spark form of a table function (1 row → N rows), staying
    inside whole-stage codegen instead of a Python UDTF."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", r"[.!?]+")).alias("sentence_idx", "raw"),
        )
        .select("doc_id", F.col("sentence_idx").cast("long").alias("sentence_idx"), F.trim("raw").alias("sentence"))
        .filter(F.col("sentence") != "")
    )


# --------------------------------------------------------------------------- #
# TF-IDF — corpus-weighted term scoring, top terms per document.
# --------------------------------------------------------------------------- #

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
scored AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ln((1.0 + n.n_docs) / (1.0 + df.df)) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, term_rank FROM (
  SELECT doc_id, token,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, token
         ) AS term_rank
  FROM scored
)
WHERE term_rank <= 3
"""


@register("doc_top_terms_tfidf", oracle=_TFIDF_ORACLE, tags=("text",))
def doc_top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Term frequencies and document
    frequencies are two aggregations over one exploded projection; the doc
    count broadcasts as a literal; ranking is a per-doc window. Determinism:
    tf and df are exact integers, n_docs a literal, so the tfidf doubles are
    identical IEEE expressions on both engines, and rank ties break on the
    token string. Rank (not the score) is the emitted contract."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tok.select("doc_id").distinct().count()
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        (F.col("tf") * F.log((1.0 + n_docs) / (1.0 + F.col("df")))).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.select(
            "doc_id", "token", F.row_number().over(w).cast("long").alias("term_rank")
        )
        .filter(F.col("term_rank") <= 3)
    )


# --------------------------------------------------------------------------- #
# Regex / string search — declared absent in the reference (SURVEY §2.7).
# --------------------------------------------------------------------------- #

_REGEX_ORACLE = """
SELECT doc_id,
       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
       regexp_matches(text, '[A-Z][a-z]+') AS has_capitalized,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
       left(text, 20) AS prefix20
FROM documents
"""


@register("doc_regex_stats", oracle=_REGEX_ORACLE, tags=("text",))
def doc_regex_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex and string-search functions over documents: match counting
    (regexp_extract_all), boolean search (rlike), replace-based character
    counting, and prefix slicing — all JVM expressions inside whole-stage
    codegen; simple character-class patterns behave identically in Java and
    RE2-style engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"))).cast("long").alias("n_numbers"),
        F.col("text").rlike("[A-Z][a-z]+").alias("has_capitalized"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).cast("long").alias("n_spaces"),
        F.substring("text", 1, 20).alias("prefix20"),
    )


# --------------------------------------------------------------------------- #
# Data-quality constraint suite (operators/quality.py) — one agg pass per
# table + an anti-join FK check, reported as (check_name, violations, passed).
# --------------------------------------------------------------------------- #

_QUALITY_ORACLE = """
SELECT 'unique(o_orderkey)' AS check_name,
       COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS violations,
       COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) = 0 AS passed
FROM orders
UNION ALL
SELECT 'not_null(o_custkey)',
       COUNT(*) - COUNT(o_custkey),
       COUNT(*) - COUNT(o_custkey) = 0
FROM orders
UNION ALL
SELECT 'in_set(o_orderstatus)',
       -- CAST: DuckDB types SUM(int) as HUGEINT, which the driver's pandas
       -- bridge stringifies as float ("2223.0" vs Spark's "2223").
       CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'in_range(l_quantity)',
       CAST(SUM(CASE WHEN l_quantity IS NOT NULL
                 AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_quantity IS NOT NULL
                 AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'in_range(l_discount)',
       CAST(SUM(CASE WHEN l_discount IS NOT NULL
                 AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_discount IS NOT NULL
                 AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'fk(l_orderkey)',
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
"""


@register("data_quality_report", oracle=_QUALITY_ORACLE, tags=("quality",))
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over orders + lineitem: uniqueness,
    null-freedom, enum domain, numeric ranges (one aggregation pass per
    table) and lineitem→orders referential integrity (anti-join). The engine
    feature the reference's hard-coded per-domain cleaners generalize into."""
    from ..operators.quality import fk_report, in_range, in_set, not_null, quality_report, unique

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        quality_report(
            orders,
            [unique("o_orderkey"), not_null("o_custkey"), in_set("o_orderstatus", ("O", "F", "P"))],
        )
        .unionAll(
            quality_report(
                li, [in_range("l_quantity", 1, 50), in_range("l_discount", 0.0, 0.1)]
            )
        )
        .unionAll(fk_report(li, "l_orderkey", orders, "o_orderkey"))
    )


# --------------------------------------------------------------------------- #
# n-gram (shingle) Jaccard near-dup pairs — order-sensitive, vs the word-set
# variant above; completes the dedup ladder (exact / word-Jaccard /
# shingle-Jaccard / MinHash / SimHash / embedding).
# --------------------------------------------------------------------------- #

_SHINGLE_JACCARD_ORACLE = """
WITH s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
  WHERE len(t) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.sh, b.sh)) * 1.0
         / len(list_distinct(a.sh || b.sh)) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) * 1.0
        / len(list_distinct(a.sh || b.sh)) >= 0.8
"""


@register("shingle_jaccard_pairs", oracle=_SHINGLE_JACCARD_ORACLE, tags=("dedup", "text"))
def shingle_jaccard_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard ≥ 0.8 — order-sensitive near-dedup (a permuted
    rewrite shares vocabulary but not shingles). Prefix-filtered exact join
    over shingle sets (operators/dedup.py:shingle_jaccard_pairs); the oracle
    is the O(n²) list-ops equivalent, tractable at gate scale only."""
    from ..operators.dedup import shingle_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.8, n=3)


# --------------------------------------------------------------------------- #
# BM25 ranked retrieval — keyword search with corpus-weighted scoring.
# --------------------------------------------------------------------------- #

_BM25_TERMS = ("spark", "vector", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"

_BM25_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM d
),
tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE token IN {_BM25_TERMS_SQL}
  GROUP BY doc_id, token
),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         CAST(
           ln((CAST(s.n_docs - df.df AS DOUBLE) + 0.5)
              / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
           * ((CAST(tf.tf AS DOUBLE) * ({_BM25_K1!r} + 1.0))
              / (CAST(tf.tf AS DOUBLE)
                 + {_BM25_K1!r} * (1.0 - {_BM25_B!r}
                                   + {_BM25_B!r} * (CAST(d.dl AS DOUBLE)
                                                    / s.avgdl))))
           AS DECIMAL(20, 9)) AS term_score
  FROM tf
  JOIN df ON tf.token = df.token
  JOIN d ON tf.doc_id = d.doc_id
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       CAST(SUM(term_score) AS DOUBLE) AS bm25
FROM scored GROUP BY doc_id
"""


@register("bm25_search_docs", oracle=_BM25_ORACLE, tags=("text", "bench"))
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson–Spärck Jones) for a fixed keyword
    query: every document containing ≥1 query term, scored
    Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).

    Engine discipline (the `doc_lm_perplexity` recipe): tf/df/dl/N are
    exact integers; avgdl is ONE IEEE division of two exact integers (so
    the Python literal == DuckDB's division); every per-term score is an
    identically-shaped double expression QUANTIZED to DECIMAL(20,9) before
    the per-doc sum, which is then exact-decimal and order-independent —
    float hashes can't drift with partitioning. Constant caveat: DuckDB
    parses the interpolated k1/b literals as exact DECIMALs, which promote
    to the SAME doubles Spark's float literals hold (decimal→double
    conversion is correctly rounded), and any residual constant-folding
    ULP is absorbed by the DECIMAL(20,9) quantization.

    Scale shape (round-10 form): the token array is FILTERED to query terms
    before the explode, so the tf shuffle carries only hits — O(matches),
    not O(corpus tokens) — and dl rides through that aggregate, so no
    second corpus branch joins it back. dl itself is n_spaces + 1 by
    character arithmetic (tokenize ≡ split on ' '), which lets the
    N/avgdl branch skip tokenization entirely and fold in as a broadcast
    1-row cross-join instead of a driver collect: ONE tokenize pass and
    two column-pruned scans total, zero driver-side jobs. At 100 TB this
    is the inverted-index-free form of keyword search a Spark engine can
    serve directly."""
    docs = load_table(spark, sf_dir, "documents")
    # size(split(lower(text), ' ')) == n_spaces + 1, lowercase-invariant.
    dl_expr = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(dl_expr).alias("total_dl")
    ).select(
        "n_docs",
        (F.col("total_dl").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    hits = docs.select(
        "doc_id",
        dl_expr.alias("dl"),
        F.explode(
            F.filter(tokenize("text"), lambda t: t.isin(*_BM25_TERMS))
        ).alias("token"),
    )
    tf = hits.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tfd = F.col("tf").cast("double")
    dfd = F.col("df").cast("double")
    dld = F.col("dl").cast("double")
    idf = F.log(
        ((F.col("n_docs") - F.col("df")).cast("double") + 0.5) / (dfd + 0.5) + 1.0
    )
    norm = (tfd * (_BM25_K1 + 1.0)) / (
        tfd + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * (dld / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * norm).cast("decimal(20,9)").alias("term_score"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.sum("term_score").cast("double").alias("bm25"),
    )


# --------------------------------------------------------------------------- #
# Product quantization — compressed-domain ANN on an exact integer lattice.
# --------------------------------------------------------------------------- #

def _pq_topk_oracle(shortlist: int = 32, k_top: int = 5) -> str:
    """DuckDB replay of the FULL PQ pipeline against the pinned integer
    codebooks (plans/_pinned_pq.py): lattice quantization (same round()),
    per-subspace argmin encode (ties on code index), exact-int64 ADC
    shortlist, exact cosine rerank. Everything up to the rerank is integer
    arithmetic, so encode/shortlist equality is guaranteed by construction,
    not by a float-margin guard."""
    from ..operators.pq import PQ_K, PQ_M, PQ_SCALE
    from ._pinned_pq import _PQ_CODEBOOKS_M8_K16 as books

    dsub = len(books[0][0])
    vals = ",\n    ".join(
        f"({m}, {kk}, [" + ", ".join(str(v) for v in books[m][kk]) + "]::BIGINT[])"
        for m in range(PQ_M)
        for kk in range(PQ_K)
    )
    return f"""
WITH cb(m, k, c) AS (VALUES
    {vals}
),
v AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT)) AS e
  FROM embeddings
),
sub AS (
  SELECT vec_id, t.m AS m, list_slice(e, t.m * {dsub} + 1, (t.m + 1) * {dsub}) AS s
  FROM v, range({PQ_M}) t(m)
),
dist AS (
  SELECT vec_id, sub.m, cb.k,
         list_sum(list_transform(list_zip(s, c), t -> (t[1] - t[2]) * (t[1] - t[2]))) AS d
  FROM sub JOIN cb ON cb.m = sub.m
),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dist
  ) WHERE rn = 1
),
adc AS (
  SELECT qd.vec_id AS qid, cc.vec_id AS cid, SUM(qd.d) AS adc
  FROM (SELECT * FROM dist WHERE vec_id < 8) qd
  JOIN codes cc ON cc.m = qd.m AND cc.code = qd.k AND cc.vec_id <> qd.vec_id
  GROUP BY 1, 2
),
short AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn
    FROM adc
  ) WHERE rn <= {shortlist}
),
nv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e2,
         sqrt(list_sum(list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT qid, cid, rank FROM (
  SELECT s.qid, s.cid,
         row_number() OVER (PARTITION BY s.qid ORDER BY
           list_sum(list_transform(list_zip(q.e2, c.e2), t -> t[1] * t[2]))
             / (q.nrm * c.nrm) DESC,
           s.cid) AS rank
  FROM short s JOIN nv q ON q.vec_id = s.qid JOIN nv c ON c.vec_id = s.cid
)
WHERE rank <= {k_top}
"""


@register(
    "pq_similarity_topk",
    oracle=_pq_topk_oracle(),
    tags=("bench", "similarity", "approx"),
)
def pq_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 (Jégou et al. TPAMI 2011) — the MEMORY
    tier of the ANN ladder: the corpus is served from 8×4-bit codes
    (64× smaller than the raw float64 vectors), queries scan the codes with
    table lookups (ADC), and only the top-32 shortlist per query touches
    raw vectors for the exact cosine rerank — the billion-vector serving
    shape where the corpus no longer fits memory uncompressed.

    Cross-engine exactness by construction: vectors and the PINNED
    codebooks live on the 10⁶ integer lattice, so encode argmin, ADC sums,
    and shortlist selection are bit-identical int64 arithmetic in both
    engines (no float-tie margin guard — the IVF oracle's one caveat is
    engineered away). The compressed scan is deliberately exhaustive (its
    cost is |C|·M lookups on 8-byte codes — memory-bound, not FLOP-bound);
    composing it behind the IVF partition pruning is the standard IVF-PQ
    stack and both pieces are verified here separately."""
    import numpy as np

    from ..operators.pq import pq_topk
    from ._pinned_pq import _PQ_CODEBOOKS_M8_K16

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb.filter(F.col("vec_id") < 8),
        emb,
        np.array(_PQ_CODEBOOKS_M8_K16, dtype=np.int64),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        shortlist=32,
    )


def _ivfpq_topk_oracle(n_probe: int = 6, shortlist: int = 32, k_top: int = 5) -> str:
    """DuckDB replay of the COMPOSED IVF-PQ stack: the IVF assignment/probe
    CTEs from _ivf_topk_oracle (pinned k=8 float model, margin-guarded at
    pin time) gate which candidates exist; the PQ CTEs from _pq_topk_oracle
    (pinned integer codebooks, exact int64) score them; exact cosine
    reranks the shortlist."""
    from ..operators.pq import PQ_K, PQ_M, PQ_SCALE
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8 as cent
    from ._pinned_pq import _PQ_CODEBOOKS_M8_K16 as books

    am = centroid_argmax(cent, lambda lits: f"list_dot_product(e2, {lits})")
    dsub = len(books[0][0])
    vals = ",\n    ".join(
        f"({m}, {kk}, [" + ", ".join(str(v) for v in books[m][kk]) + "]::BIGINT[])"
        for m in range(PQ_M)
        for kk in range(PQ_K)
    )
    return f"""
WITH cb(m, k, c) AS (VALUES
    {vals}
),
nv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e2,
         sqrt(list_sum(list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT)) AS e
  FROM embeddings
),
ivfd AS (
  SELECT vec_id, e2, nrm,
         {am.dots}
  FROM nv
),
assigned AS (
  SELECT vec_id, {am.case} AS centroid
  FROM ivfd
),
probes AS (
  SELECT qid, idx AS centroid FROM (
    SELECT vec_id AS qid, u.idx AS idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY u.d DESC, u.idx) AS r
    FROM (SELECT vec_id, unnest([{am.structs}]) AS u FROM ivfd WHERE vec_id < 8)
  ) WHERE r <= {n_probe}
),
sub AS (
  SELECT vec_id, t.m AS m, list_slice(e, t.m * {dsub} + 1, (t.m + 1) * {dsub}) AS s
  FROM nv, range({PQ_M}) t(m)
),
dist AS (
  SELECT vec_id, sub.m, cb.k,
         list_sum(list_transform(list_zip(s, c), t -> (t[1] - t[2]) * (t[1] - t[2]))) AS d
  FROM sub JOIN cb ON cb.m = sub.m
),
codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dist
  ) WHERE rn = 1
),
cand AS (
  SELECT p.qid, a.vec_id AS cid
  FROM probes p JOIN assigned a ON a.centroid = p.centroid AND a.vec_id <> p.qid
),
adc AS (
  SELECT c.qid, c.cid, SUM(qd.d) AS adc
  FROM cand c
  JOIN codes cc ON cc.vec_id = c.cid
  JOIN dist qd ON qd.vec_id = c.qid AND qd.m = cc.m AND qd.k = cc.code
  GROUP BY 1, 2
),
short AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rn
    FROM adc
  ) WHERE rn <= {shortlist}
)
SELECT qid, cid, rank FROM (
  SELECT s.qid, s.cid,
         row_number() OVER (PARTITION BY s.qid ORDER BY
           list_sum(list_transform(list_zip(q.e2, c.e2), t -> t[1] * t[2]))
             / (q.nrm * c.nrm) DESC,
           s.cid) AS rank
  FROM short s JOIN nv q ON q.vec_id = s.qid JOIN nv c ON c.vec_id = s.cid
)
WHERE rank <= {k_top}
"""


@register(
    "ivfpq_similarity_topk",
    oracle=_ivfpq_topk_oracle(),
    tags=("similarity", "approx"),
)
def ivfpq_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED billion-vector serving stack (Jégou et al. TPAMI 2011
    §V): IVF pruning shrinks WHICH vectors are scanned (n_probe=6 of the
    pinned k=8 partitions), PQ shrinks what a scanned row COSTS (8-byte
    codes, int-lattice ADC), exact cosine reranks the 32-candidate
    shortlist. Both pinned models' replays — the IVF float argmax
    (margin-guarded) and the PQ int64 arithmetic (exact by construction) —
    compose into one oracle, so the hash gate certifies the STACK, not
    just the tiers separately. With n_probe = n_centroids this equals
    pq_similarity_topk exactly (unit-tested): pruning composes
    orthogonally. At 100 TB the corpus is written bucketed by centroid
    with a codes column, making a probe a partition-pruned scan that never
    reads raw vectors outside the rerank."""
    import numpy as np

    from ..operators.pq import ivfpq_topk
    from ._pinned_centroids import _CLUSTER_CENTROIDS_K8
    from ._pinned_pq import _PQ_CODEBOOKS_M8_K16

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 8),
        emb,
        _CLUSTER_CENTROIDS_K8,
        np.array(_PQ_CODEBOOKS_M8_K16, dtype=np.int64),
        k=5,
        n_probe=6,
        shortlist=32,
    )


# --------------------------------------------------------------------------- #
# Per-dimension embedding statistics — feature-scaling prep, exact moments.
# --------------------------------------------------------------------------- #

_DIM_STATS_ORACLE = """
WITH x AS (
  SELECT u.dim, CAST(round(CAST(u.v AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (
    SELECT unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  ) u
),
m AS (
  SELECT dim, COUNT(*) AS n,
         CAST(SUM(q) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(q AS DECIMAL(38,0)) * q) AS DECIMAL(38,0)) AS ss
  FROM x GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n,
       CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS mean,
       CAST(n * ss - s * s AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12) AS variance
FROM m
"""


@register("embedding_dimension_stats", oracle=_DIM_STATS_ORACLE, tags=("similarity", "eval"))
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance over the embedding corpus — the
    feature-standardization statistics ((x−μ)/σ scaling, PCA whitening
    prep) every ML data pipeline computes before training. Exactness via
    the 10⁶ integer lattice (the PQ quantization): per-dimension Σq and
    Σq² accumulate as DECIMAL(38,0) — order-independent exact integers at
    any parallelism — and population variance comes from the one-pass
    identity (n·Σq²−(Σq)²)/n², floats only in the final scaled divisions.

    Scale shape: posexplode is a map-only ×dim fan-out feeding a map-side-
    combinable agg to the DIM grain (64 rows out, whatever the corpus);
    no join, one KB-scale shuffle."""
    from ..operators.pq import PQ_SCALE, int_lattice

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(int_lattice("embedding")).alias("dim0", "q")
    ).select((F.col("dim0") + 1).cast("long").alias("dim"), "q")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.sum("q")).alias("s"),
        dec(F.sum(dec(F.col("q")) * F.col("q"))).alias("ss"),
    )
    n_d = F.col("n").cast("double")
    return m.select(
        "dim",
        "n",
        (F.col("s").cast("double") / (n_d * F.lit(float(PQ_SCALE)))).alias("mean"),
        (
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
            / (n_d * n_d * F.lit(1e12))
        ).alias("variance"),
    )


# --------------------------------------------------------------------------- #
# Zipf-law fit — the corpus-health regression over the token rank spectrum.
# --------------------------------------------------------------------------- #

ZIPF_TOP = 1000

_ZIPF_ORACLE = f"""
WITH f AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  GROUP BY w
),
r AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS rank
  FROM f ORDER BY freq DESC, w LIMIT {ZIPF_TOP}
),
q AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000000) AS BIGINT) AS y
  FROM r
),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM q
)
SELECT n AS n_tokens_used,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope,
       (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) AS r_squared
FROM m
"""


@register("token_zipf_fit", oracle=_ZIPF_ORACLE, tags=("text", "eval"))
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the token rank spectrum: OLS of ln(freq) against
    ln(rank) for the top-1000 tokens — natural corpora fit slope ≈ −1 with
    high R², and a corpus whose spectrum DOESN'T (slope near 0: template
    spam; far below −1: tiny vocab looping) fails the health check, which
    is why corpus reports plot this line. Float discipline: the only
    transcendental step (two ln calls on exact integer counts/ranks) is
    immediately quantized onto a 10⁻⁹ integer lattice; the five moment
    sums then accumulate as DECIMAL(38,0) exactly (order-free) and floats
    return only in the final divisions — the `priority_revenue_trendline`
    recipe pointed at log-log space.

    Scale shape: one corpus-sized explode+agg to the vocabulary grain, a
    distributed TakeOrdered for the top-1000 (no global sort), then a
    1-row moment aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(ZIPF_TOP)
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.orderBy(F.col("freq").desc(), "w")
    )
    q = f.select(
        F.round(F.log(rank.cast("double")) * 1e9).cast("long").alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * 1e9).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.sum("x")).alias("sx"),
        dec(F.sum("y")).alias("sy"),
        dec(F.sum(dec(F.col("x")) * F.col("x"))).alias("sxx"),
        dec(F.sum(dec(F.col("x")) * F.col("y"))).alias("sxy"),
        dec(F.sum(dec(F.col("y")) * F.col("y"))).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("n").alias("n_tokens_used"),
        (num.cast("double") / den.cast("double")).alias("zipf_slope"),
        (
            (num.cast("double") * num.cast("double"))
            / (den.cast("double") * deny.cast("double"))
        ).alias("r_squared"),
    )


# --------------------------------------------------------------------------- #
# Behavioral entropy — per-user event-mix diversity (feature engineering).
# --------------------------------------------------------------------------- #

_ENTROPY_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
q AS (
  SELECT user_id, c,
         CAST(round(ln(CAST(c AS DOUBLE)) * 1000000000) AS BIGINT) AS lnc
  FROM c
),
m AS (
  SELECT user_id, COUNT(*) AS n_types,
         CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * lnc) AS DECIMAL(38,0)) AS s
  FROM q GROUP BY user_id
)
SELECT user_id, n_events, CAST(n_types AS BIGINT) AS n_types,
       ln(CAST(n_events AS DOUBLE))
         - CAST(s AS DOUBLE) / (CAST(n_events AS DOUBLE) * 1e9) AS entropy
FROM m
"""


@register("user_event_entropy", oracle=_ENTROPY_ORACLE, tags=("analytics", "eval"))
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity feature user models feed on (0 = one-note bot-like behavior,
    ln(5) ≈ 1.609 = uniform across all five types), via the identity
    H = ln n − (Σ c·ln c)/n so only per-TYPE counts need a log. Float
    discipline: each ln(c) lands on the 10⁻⁹ integer lattice immediately,
    the weighted sum Σ c·ln c accumulates as DECIMAL(38,0) exactly, and
    the closing expression is a fixed shape of single IEEE ops.

    Scale shape: one fact agg to (user, type) grain with map-side combine,
    one agg to user grain — no window, no join."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lnc = F.round(F.log(F.col("c").cast("double")) * 1e9).cast("long")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = c.select("user_id", "c", lnc.alias("lnc")).groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").alias("n_events"),
        dec(F.sum(dec(F.col("c")) * F.col("lnc"))).alias("s"),
    )
    n_d = F.col("n_events").cast("double")
    return m.select(
        "user_id",
        "n_events",
        "n_types",
        (F.log(n_d) - F.col("s").cast("double") / (n_d * F.lit(1e9))).alias(
            "entropy"
        ),
    )


# --------------------------------------------------------------------------- #
# Semantic split contamination (round 12): embedding-space decontamination.
# --------------------------------------------------------------------------- #

_SEM_CONTAM_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
         CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM v
),
leaks AS (
  SELECT b.vec_id, b.split
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE a.split = 'train' AND b.split <> 'train'
    AND list_sum(list_transform(list_zip(a.e, b.e), t -> t[1] * t[2]))
        / (a.nrm * b.nrm) >= 0.4
)
SELECT vec_id, split, CAST(COUNT(*) AS BIGINT) AS n_train_neighbors
FROM leaks GROUP BY vec_id, split
"""


@register(
    "semantic_split_contamination",
    oracle=_SEM_CONTAM_ORACLE,
    # bench (r13): official per-round timing for the r12 semantic-decon
    # operator, per VERDICT r12 item 4.
    tags=("similarity", "training", "dedup", "bench"),
)
def semantic_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space DECONTAMINATION of the train/eval boundary: every
    val/test vector with a train vector at cosine ≥ 0.4, with its
    train-neighbor count — the semantic tier of the n-gram
    ``train_eval_contamination`` check (paraphrase-level leaks share no
    n-grams but do share embedding neighborhoods; this is what makes eval
    scores honest after aggressive dedup). The split is the corpus'
    canonical md5 80/10/10 rule (``doc_split_summary``), computed map-side
    from the id — leak-free to evaluate because no text is consulted.

    Scale shape: pairs come from the EXACT blocked-matmul operator
    (``blocked_cosine_pairs`` — B·n shuffle, one BLAS matmul per block
    pair, never an n² pair stream), split tags are scan-side expressions,
    and the final aggregate is leak-sized. Swap in ``cosine_lsh_pairs``
    for the recall-tunable approximate tier at web scale; the oracle
    replays the exact form."""
    from ..operators.similarity import blocked_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = blocked_cosine_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4, n_blocks=8
    )
    bucket = lambda c: F.substring(F.md5(F.col(c).cast("string")), 1, 2)  # noqa: E731
    split_of = lambda c: (  # noqa: E731
        F.when(bucket(c) < "cc", "train")
        .when(bucket(c) < "e6", "val")
        .otherwise("test")
    )
    p = pairs.select(
        "id_a", "id_b", split_of("id_a").alias("sa"), split_of("id_b").alias("sb")
    )
    leaks = p.filter(
        ((F.col("sa") == "train") & (F.col("sb") != "train"))
        | ((F.col("sb") == "train") & (F.col("sa") != "train"))
    )
    ev = leaks.select(
        F.when(F.col("sa") == "train", F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("vec_id"),
        F.when(F.col("sa") == "train", F.col("sb"))
        .otherwise(F.col("sa"))
        .alias("split"),
    )
    return ev.groupBy("vec_id", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_neighbors")
    )
