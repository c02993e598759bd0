"""Training-data-pipeline queries over ``documents`` / ``embeddings``:
dedup, similarity search, text analysis, multimodal plumbing.

Registered into the same QUERIES/ORACLE registry as the relational
layer. Exact variants carry DuckDB oracles; LSH/IVF variants are
approximate by construction and run under the driver's rows-only check
(their correctness is pinned by unit tests against the exact variants
on synthetic near-dup corpora).
"""

from __future__ import annotations

import zlib
from typing import Iterator  # noqa: F401  (pandas_udf string annotations)

import pandas as pd  # noqa: F401  (pandas_udf string annotations)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoopxmlextractor_spark import oracles as O
from hadoopxmlextractor_spark import portable_math as PM
from hadoopxmlextractor_spark.operators import dedup as D
from hadoopxmlextractor_spark.operators import multimodal as M
from hadoopxmlextractor_spark.operators import similarity as S
from hadoopxmlextractor_spark.operators import text as T
from hadoopxmlextractor_spark.queries import query
from hadoopxmlextractor_spark.tables import load

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    """
    SELECT doc_id, text_hash FROM (
      SELECT doc_id, md5(text) AS text_hash,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return D.dedup_exact(docs, "text", "doc_id").select("doc_id", "text_hash")


@query(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                    ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in generate_series(1, len(w) - 2)]
               END
             ) AS shingles
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.shingles, b.shingles)) AS shared,
           ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) >= 0.5
      AND ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / (len(a.shingles) + len(b.shingles)
                   - len(list_intersect(a.shingles, b.shingles))), 4) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # Exact n-gram Jaccard via inverted-index join (no cross join); the
    # oracle brute-forces the same pairs in DuckDB. The corpus contains
    # planted near-duplicates (true Jaccard ~0.97) that this finds.
    docs = load(spark, sf, "documents")
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)


@query("dedup_prefix_filter_join", O.prefix_filter_oracle(pct=50))
def q_dedup_prefix_filter_join(spark: SparkSession, sf: str) -> DataFrame:
    # EXACT Jaccard-threshold join via prefix filtering (AllPairs/
    # PPJoin): provably no false negatives, candidates bounded to
    # prefix collisions on the rarest shingles — the scale path when
    # LSH recall is unacceptable. Output is the identical pair set to
    # dedup_ngram_jaccard (unit-tested); the oracle replays the whole
    # pruning pipeline (df order, integer prefix cut, length filter,
    # cross-multiplied verify) in SQL.
    docs = load(spark, sf, "documents")
    return D.prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold_pct=50
    )


@query(
    "dedup_minhash_lsh",
    O.minhash_lsh_oracle(num_hashes=64, bands=32, threshold=0.5),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # LSH recall < 1 vs TRUE Jaccard by design, but the pipeline itself
    # is deterministic (seeded permutations, md5 hash64), so the oracle
    # replays the exact signature/banding/estimate arithmetic in SQL.
    docs = load(spark, sf, "documents")
    return D.dedup_minhash_lsh(
        docs, "text", "doc_id", num_hashes=64, bands=32, threshold=0.5
    )


@query("dedup_simhash", O.simhash_oracle(max_hamming=7))
def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    # max_hamming=7 matches the 8x8-bit pigeonhole blocking guarantee
    # exactly (operators/dedup.py:simhash_near_pairs) — recall 1.0 up
    # to distance 7, so the oracle's brute-force hamming join over the
    # same deterministic SimHash values produces the identical pair set.
    docs = load(spark, sf, "documents")
    # r14-opt (guide §5): the hash table feeds both banded-join sides
    # — unpersisted, the SimHash Python kernel ran once per side (the
    # signature-cache pattern; the cache is two longs per doc).
    sim = D.simhash(docs, "text", "doc_id").persist()
    sim.count()
    return D.simhash_near_pairs(sim, max_hamming=7)


@query("minhash_signatures", O.minhash_signatures_oracle(num_sigs=4))
def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    # Scalar columns only: the driver's canonicalizer sorts a pandas
    # frame and dies on array-valued cells (unhashable list), so the
    # signature head is projected to four LONG columns instead of a
    # single array<long>.
    docs = load(spark, sf, "documents")
    sigs = D.minhash_signatures(docs, "text", "doc_id", num_hashes=64)
    return sigs.select(
        "doc",
        F.element_at("signature", 1).alias("sig0"),
        F.element_at("signature", 2).alias("sig1"),
        F.element_at("signature", 3).alias("sig2"),
        F.element_at("signature", 4).alias("sig3"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf: str) -> list[float]:
    row = (
        load(spark, sf, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return list(row[0])


@query(
    "similarity_topk_bruteforce",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6) AS sim
    FROM embeddings
    ORDER BY sim DESC, vec_id
    LIMIT 20
    """,
)
def q_similarity_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    return S.cosine_topk_bruteforce(emb, _query_vec(spark, sf), k=20)


@query(
    "embedding_near_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 5) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 5) >= 0.45
    """,
)
def q_embedding_near_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return S.cosine_pairs_exact(load(spark, sf, "embeddings"), threshold=0.45)


@query(
    "embedding_near_pairs_lsh",
    O.near_pairs_lsh_oracle(threshold=0.45, dim=64, n_planes=4, n_tables=8),
)
def q_embedding_near_pairs_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # Approximate (banded-bucket) recall vs the exact variant — ≈0.79
    # at the 0.45 threshold with b=4 bits × T=8 tables — but the
    # bucketing itself is deterministic (seeded hyperplanes), so the
    # oracle embeds the same plane matrix as literals and replays it.
    emb = load(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return S.cosine_pairs_lsh(emb, threshold=0.45, dim=dim, n_planes=4, n_tables=8)


_EXACT_TOP20_SQL = """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    ex AS (
      SELECT vec_id,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6) AS sim
      FROM embeddings
      ORDER BY sim DESC, vec_id
      LIMIT 20
    )
    SELECT vec_id, sim, TRUE AS {flag} FROM ex
"""


def _gated_ann_topk(spark, sf: str, build, flag: str, *, min_recall: int = 10) -> DataFrame:
    """Gate-verdict wrapper for the approximate-by-design ANN paths: the
    hashed payload is the EXACT brute-force top-20 (oracle-checkable SQL)
    plus one deterministic boolean — "the approximate variant recovered
    ≥ ``min_recall`` of the exact top-20". Every stage of the
    approximate plan is deterministic for fixed input (seeded centroid
    sample, argmax ties to lowest id, TakeOrderedAndProject with id
    tiebreaks), so the recall count — and therefore the flag — is
    hash-stable; thresholds sit ≥4 hits under the worst measured recall
    across sf0.001/0.01/0.1. The tighter per-sf recall/rank assertions
    stay in tests/test_approx_quality.py."""
    emb = load(spark, sf, "embeddings")
    qv = _query_vec(spark, sf)
    # the 20-row exact leg feeds BOTH the recall join and the output
    # payload: materialize it once (eager localCheckpoint of 20 rows —
    # no cache leak) instead of re-scanning embeddings per branch
    exact = S.cosine_topk_bruteforce(emb, qv, k=20).localCheckpoint(eager=True)
    approx = build(emb, qv)
    # single-row recall total: broadcast cross join (tiny-row idiom)
    n_hit = (
        approx.select("vec_id")
        .join(exact.select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return exact.crossJoin(F.broadcast(n_hit)).select(
        "vec_id", "sim", (F.col("n_hit") >= min_recall).alias(flag)
    )


@query(
    "similarity_topk_ivf",
    _EXACT_TOP20_SQL.format(flag="ivf_recall_ge_50pct"),
)
def q_similarity_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    # IVF cell pruning probes nprobe=12/16 cells; on the synthetic
    # random 64-d corpus (the hardest case for cell pruning — clustered
    # real embeddings concentrate neighbors in fewer cells) measured
    # top-20 recall is 15-19/20 across sf0.001/0.01/0.1, so the ≥10/20
    # gate verdict is deterministic-true with ≥5 hits of headroom.
    return _gated_ann_topk(
        spark,
        sf,
        lambda emb, qv: S.ivf_topk(emb, qv, k=20, n_centroids=16, nprobe=12),
        "ivf_recall_ge_50pct",
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')) AS fp
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.fingerprint("text").alias("fp"),
    )


@query(
    "text_quality",
    """
    WITH base AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             ' ' || lower(text) || ' ' AS padded
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           ROUND(n_punct / GREATEST(n_chars, 1), 4) AS punct_ratio,
           ROUND((
             (length(padded) - length(replace(padded, ' the ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' and ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' of ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' a ', ''))) / 3.0
           + (length(padded) - length(replace(padded, ' to ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' in ', ''))) / 4.0
           ) / GREATEST(CAST(n_tokens AS DOUBLE), 1.0), 4) AS stopword_ratio,
           ROUND((n_chars - n_tokens + 1) / GREATEST(CAST(n_tokens AS DOUBLE), 1.0), 4)
             AS mean_token_len
    FROM base
    """,
)
def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    feats = T.quality_features("text")
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_token_len"].alias("mean_token_len"),
    )


@query(
    "text_language_id",
    """
    WITH scored AS (
      SELECT doc_id, lang AS declared_lang,
             (length(p) - length(replace(p, ' the ', ''))) / 5.0
           + (length(p) - length(replace(p, ' and ', ''))) / 5.0
           + (length(p) - length(replace(p, ' of ', ''))) / 4.0 AS s_en,
             (length(p) - length(replace(p, ' der ', ''))) / 5.0
           + (length(p) - length(replace(p, ' und ', ''))) / 5.0
           + (length(p) - length(replace(p, ' die ', ''))) / 5.0 AS s_de,
             (length(p) - length(replace(p, ' le ', ''))) / 4.0
           + (length(p) - length(replace(p, ' et ', ''))) / 4.0
           + (length(p) - length(replace(p, ' les ', ''))) / 5.0 AS s_fr
      FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents)
    )
    SELECT doc_id, declared_lang,
           CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_fr THEN 'de'
                WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                ELSE 'unknown' END AS detected_lang
    FROM scored
    """,
)
def q_text_language_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        T.language_id("text").alias("detected_lang"),
    )


@query("text_winnowing", O.winnowing_oracle(k=5, window=4))
def q_text_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic (md5-based k-gram hashes): the oracle replays the
    # same hashing + sliding-window-min arithmetic with SQL window
    # functions and counts the distinct selected fingerprints.
    docs = load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(T.winnowing_fingerprints("text")).alias("n_fingerprints"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    """
    WITH bytes AS (
      SELECT doc_id,
             ord(substring(text, unnest(range(1, length(text) + 1)), 1)) // 16
               AS bin,
             length(text) AS n
      FROM documents
    ),
    hist AS (
      SELECT doc_id, MAX(n) AS n_bytes,
             SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS c2,
             SUM(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS c6,
             SUM(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS c7
      FROM bytes GROUP BY doc_id
    )
    SELECT doc_id AS media_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           ROUND(CAST(CAST(CAST(c2 AS DOUBLE) / n_bytes AS FLOAT) AS DOUBLE), 5) AS f_space,
           ROUND(CAST(CAST(CAST(c6 AS DOUBLE) / n_bytes AS FLOAT) AS DOUBLE), 5) AS f_low1,
           ROUND(CAST(CAST(CAST(c7 AS DOUBLE) / n_bytes AS FLOAT) AS DOUBLE), 5) AS f_low2,
           16 AS feat_dim
    FROM hist
    """,
)
def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    # The binary-column feature pipeline, now exactly oracled: the fake
    # decode is a 16-bin byte histogram over the (pure-ASCII) document
    # bytes, so DuckDB can replay the informative bins — bin 2 holds
    # the space/punct bytes (32–47), bins 6–7 the lowercase letters —
    # character-by-character, including numpy's float64-divide →
    # float32-round step (CAST(... AS FLOAT) in SQL is the same
    # round-to-nearest). feat_dim pins the UDF's output shape.
    docs = load(spark, sf, "documents")
    media = M.fake_media_from_documents(docs)
    feats = M.extract_media_features(media, decode="fake")
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("feature", 3).cast("double"), 5).alias("f_space"),
        F.round(F.element_at("feature", 7).cast("double"), 5).alias("f_low1"),
        F.round(F.element_at("feature", 8).cast("double"), 5).alias("f_low2"),
        F.size("feature").alias("feat_dim"),
    )


@query(
    "text_repetition",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ),
    tok_counts AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    tok_stats AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             MAX(c) AS top_tok
      FROM tok_counts GROUP BY doc_id
    ),
    bigrams AS (
      SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
      FROM toks
      QUALIFY lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    ),
    bg_stats AS (
      SELECT doc_id, MAX(c) AS top_bg FROM (
        SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
      ) GROUP BY doc_id
    )
    SELECT t.doc_id, n_tokens, n_distinct,
           ROUND(CAST(n_distinct AS DOUBLE) / GREATEST(n_tokens, 1), 6)
             AS distinct_token_ratio,
           ROUND(CAST(top_tok AS DOUBLE) / GREATEST(n_tokens, 1), 6)
             AS top_token_ratio,
           ROUND(2.0 * COALESCE(top_bg, 0) / GREATEST(n_tokens, 1), 6)
             AS top_bigram_token_ratio
    FROM tok_stats t LEFT JOIN bg_stats b ON t.doc_id = b.doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    # Repetition-based quality signals (Gopher filters): high top-ngram
    # coverage or low distinct-token ratio marks boilerplate/spam. The
    # kernel emits exact counts in one zero-shuffle Arrow batch pass;
    # ratios + ROUND are JVM expressions so both engines hash identical
    # doubles. The oracle recomputes every count relationally (explode →
    # group → window lead for bigrams).
    docs = load(spark, sf, "documents")
    r = docs.select("doc_id", T.repetition_counts("text").alias("r"))
    n = F.greatest(F.col("r.n_tokens"), F.lit(1))
    return r.select(
        "doc_id",
        F.col("r.n_tokens").alias("n_tokens"),
        F.col("r.n_distinct").alias("n_distinct"),
        F.round(F.col("r.n_distinct").cast("double") / n, 6).alias(
            "distinct_token_ratio"
        ),
        F.round(F.col("r.top_token_cnt").cast("double") / n, 6).alias(
            "top_token_ratio"
        ),
        F.round(F.lit(2.0) * F.col("r.top_bigram_cnt") / n, 6).alias(
            "top_bigram_token_ratio"
        ),
    )


@query(
    "similarity_range_search",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, sim FROM (
      SELECT vec_id,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                          (SELECT qv FROM q)), 6) AS sim
      FROM embeddings
    ) WHERE sim >= 0.15
    """,
)
def q_similarity_range_search(spark: SparkSession, sf: str) -> DataFrame:
    # Exact range query (everything within cosine ≥ t of the probe):
    # the set-retrieval dual of top-k — zero shuffle, zero driver
    # merge, pure codegen'd scan+filter.
    emb = load(spark, sf, "embeddings")
    return S.cosine_range_search(emb, _query_vec(spark, sf), threshold=0.15)


@query(
    "dedup_fuzzy_names",
    """
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM customer a JOIN customer b
      ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_dedup_fuzzy_names(spark: SparkSession, sf: str) -> DataFrame:
    # Fuzzy entity dedup on short string keys: prefix blocking bounds
    # the self-join (each block joins only within itself — the shuffle
    # key is the prefix, never a cross join), then the exact
    # edit-distance verify runs post-join as a codegen'd JVM builtin
    # (levenshtein is NOT an interpreted lambda — safe under a join,
    # unlike zip_with/aggregate HOFs). Same blocking+verify shape as
    # MinHash-LSH, with deterministic-recall blocking: distance ≤ 1 on
    # an 18-char name implies a shared 16-char prefix unless the edit
    # is in the first 16 chars — the standard blocking/recall trade,
    # chosen here so the oracle is exact.
    cust = load(spark, sf, "customer")
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.substring("c_name", 1, 16).alias("block"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.substring("c_name", 1, 16).alias("block"),
    )
    return (
        a.join(b, "block")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
        .select("key_a", "key_b", "dist")
    )


# ---------------------------------------------------------------------------
# PII redaction audit
# ---------------------------------------------------------------------------

# The synthetic corpus contains no PII-shaped strings (all-zero counts
# would make the oracle trivial), so the audit plants deterministic PII
# derived from doc_id — built from the SAME expression on both engines,
# turning the query into a genuine cross-engine check of the regex
# semantics (Java regex vs RE2) rather than a 0 == 0 tautology.
_PII_AUG_SQL = (
    "(CASE WHEN doc_id % 7 = 0 THEN 'reach user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com ' ELSE '' END)"
    " || (CASE WHEN doc_id % 11 = 0 THEN 'id 123-45-6789 ' ELSE '' END)"
    " || (CASE WHEN doc_id % 13 = 0 THEN 'host 10.0.' ||"
    " CAST(doc_id % 256 AS VARCHAR) || '.7 ' ELSE '' END)"
    " || (CASE WHEN doc_id % 17 = 0 THEN 'call +1 415-555-0100 ' ELSE '' END)"
    " || text"
)


def _pii_oracle_sql() -> str:
    counts = ",\n           ".join(
        f"CAST(SUM(len(regexp_extract_all(aug, '{pat}'))) AS BIGINT)"
        f" AS n_{name}"
        for name, pat in T.PII_PATTERNS
    )
    redacted = "aug"
    for _, pat in T.PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '[PII]', 'g')"
    return f"""
    WITH aug AS (
      SELECT source, {_PII_AUG_SQL} AS aug FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {counts},
           CAST(SUM(length({redacted})) AS BIGINT) AS redacted_chars
    FROM aug GROUP BY source
    """


def _pii_augmented(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    aug = F.concat(
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit("reach user"), did.cast("string"), F.lit("@example.com ")
            ),
        ).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("id 123-45-6789 ")).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit("host 10.0."), (did % 256).cast("string"), F.lit(".7 ")
            ),
        ).otherwise(F.lit("")),
        F.when(did % 17 == 0, F.lit("call +1 415-555-0100 ")).otherwise(
            F.lit("")
        ),
        F.col("text"),
    )
    return docs.select("source", aug.alias("aug"))


@query("text_pii_audit", _pii_oracle_sql())
def q_text_pii_audit(spark: SparkSession, sf: str) -> DataFrame:
    # Compliance audit a corpus runs before tokenization: per-source
    # match counts for every PII pattern (counted on the ORIGINAL text
    # so chained replacements never mask each other) plus the total
    # post-redaction character count. Everything is chained
    # regexp_count/regexp_replace JVM expressions in one codegen stage
    # — zero shuffle until the final tiny per-source aggregate, scan
    # bandwidth at 100 TB. Patterns are shared verbatim with
    # operators.text.redact_pii, and the DuckDB oracle replays them
    # through RE2 — both engines must agree on every match boundary
    # for the hash to pass.
    docs = load(spark, sf, "documents")
    aug = _pii_augmented(docs)
    agg = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    agg += [
        F.sum(F.regexp_count(F.col("aug"), F.lit(pat)))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in T.PII_PATTERNS
    ]
    agg.append(
        F.sum(F.length(T.redact_pii("aug"))).cast("bigint").alias(
            "redacted_chars"
        )
    )
    return aug.groupBy("source").agg(*agg)


@query(
    "dedup_window_profile",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1)
               AS pos
      FROM documents
    ),
    kg AS (
      SELECT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                 || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
               AS kgram
      FROM toks
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(tok, 4) OVER w IS NOT NULL
    ),
    counts AS (SELECT kgram, COUNT(*) AS c FROM kg GROUP BY kgram)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           ROUND(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS dup_window_fraction
    FROM kg JOIN counts USING (kgram)
    GROUP BY doc_id
    """,
)
def q_dedup_window_profile(spark: SparkSession, sf: str) -> DataFrame:
    # Exact-substring duplication profile (Lee et al. detection pass,
    # stride-1 5-token windows): the per-document duplicated-window
    # fraction a pipeline thresholds to drop boilerplate-heavy docs.
    docs = load(spark, sf, "documents")
    return D.duplicated_window_stats(docs, "text", "doc_id", k=5)


@query(
    "corpus_source_overlap",
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1)
               AS pos
      FROM documents
    ),
    kg AS (
      SELECT DISTINCT source,
             md5(tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2)
                 OVER w || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4)
                 OVER w) AS h
      FROM toks
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(tok, 4) OVER w IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM kg a JOIN kg b USING (h)
    WHERE a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_corpus_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-source contamination matrix over exact 5-token windows —
    # the audit that decides dedup scope and mixture weights.
    docs = load(spark, sf, "documents")
    return D.source_overlap(docs, "text", "doc_id", "source", k=5)


@query("corpus_kmv_source_overlap", O.kmv_overlap_oracle(k=16, n_cycle=20))
def q_corpus_kmv_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # KMV-sketch cross-source overlap ESTIMATES — the O(k)-per-source
    # mergeable-sketch answer to corpus_source_overlap's exact
    # self-join (set algebra HLL cannot do). Planted evidence per the
    # vacuous-check rule: every 3rd document is also attributed to the
    # cyclically-next source, because the synthetic texts are
    # md5-distinct and would otherwise make every estimate a vacuous
    # 0.0 over unsaturated sketches. k=16 so the 25+-member sources
    # genuinely saturate and the (k-1)/u_k estimator branch is live.
    docs = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    nxt = F.concat(
        F.lit("src"),
        ((F.substring("source", 4, 16).cast("int") + 1) % 20).cast("string"),
    )
    planted = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("source", nxt)
        .select("source", "text")
    )
    return D.kmv_source_overlap(
        docs.select("source", "text").unionByName(planted), "text", "source", k=16
    )


@query("corpus_kmv_cardinality", O.kmv_cardinality_oracle(k=16))
def q_corpus_kmv_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    # Mergeable per-source COUNT(DISTINCT) from k rows of state per
    # source: exact below k, (k-1)/u_k once saturated — deterministic
    # despite being an estimate (md5-hex priorities, fixed-order
    # doubles). k=16 < 25 docs/source keeps the estimator branch
    # organically live at every SF.
    docs = load(spark, sf, "documents")
    return D.kmv_cardinality(docs, "text", "source", k=16)


@query(
    "corpus_incremental_rollup",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id % 11 <> 0
    GROUP BY source
    """,
)
def q_corpus_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental materialized-view maintenance: the per-source rollup
    # of the NEW corpus version is produced from the OLD rollup plus
    # retract/assert deltas over the row diff — never a rescan of
    # unchanged rows. The oracle is deliberately the DIRECT recompute
    # over the new version: the maintenance algebra must land on it
    # bigint-exactly. Versions are derived deterministically from one
    # table: old drops doc_id%7==0 (→ adds) and perturbs n_chars on
    # doc_id%5==0 (→ changes); new drops doc_id%11==0 (→ removes).
    from hadoopxmlextractor_spark.snapshots import maintain_rollup

    docs = load(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "n_chars",
        F.col("n_chars")
        + F.when(F.col("doc_id") % 5 == 0, F.lit(17)).otherwise(F.lit(0)),
    )
    new = docs.filter(F.col("doc_id") % 11 != 0)
    return maintain_rollup(old, new, "doc_id", "source", "n_chars").withColumnRenamed(
        "total", "total_chars"
    )


@query(
    "corpus_incremental_minmax",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    WHERE NOT (doc_id % 11 = 0 AND (source LIKE '%3' OR source LIKE '%7'))
    GROUP BY source
    """,
)
def q_corpus_incremental_minmax(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental maintenance of the NON-self-maintainable aggregates:
    # min/max cannot ride retract/assert deltas (a delete may remove
    # the extremum), so the operator recomputes DIRTY groups only and
    # carries untouched groups' rollups forward verbatim. Mutations are
    # confined to sources ending in 3 or 7 (adds: doc_id%7==0 dropped
    # from old; changes: +17 on doc_id%5==0; removes: doc_id%11==0
    # dropped from new), so BOTH paths are genuinely live per the
    # vacuous-check rule: 16 clean groups must carry forward and 4
    # dirty groups must recompute (with removed/changed extrema among
    # them). The oracle is deliberately the direct recompute over the
    # new version — the dirty-group algebra must land on it exactly.
    from hadoopxmlextractor_spark.snapshots import maintain_minmax_rollup

    docs = load(spark, sf, "documents")
    touched = F.col("source").endswith("3") | F.col("source").endswith("7")
    old = docs.filter(~((F.col("doc_id") % 7 == 0) & touched)).withColumn(
        "n_chars",
        F.col("n_chars")
        + F.when((F.col("doc_id") % 5 == 0) & touched, F.lit(17)).otherwise(
            F.lit(0)
        ),
    )
    new = docs.filter(~((F.col("doc_id") % 11 == 0) & touched))
    return (
        maintain_minmax_rollup(old, new, "doc_id", "source", "n_chars")
        .withColumnRenamed("min_val", "min_chars")
        .withColumnRenamed("max_val", "max_chars")
    )


@query(
    "text_heavy_hitters",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1)
               AS pos
      FROM documents WHERE trim(text) <> ''
    ),
    bigrams AS (
      SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
               AS ngram
      FROM toks
      QUALIFY lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM bigrams GROUP BY ngram HAVING COUNT(*) >= 30
    """,
)
def q_text_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus-wide frequent bigrams (boilerplate phrase detection) via
    # the Misra-Gries candidate sketch + exact recount of candidates —
    # bounded mapper state and a candidate-only shuffle instead of the
    # full n-gram vocabulary. The result is PROVABLY identical to the
    # naive GROUP BY ... HAVING (the oracle) because min_count=30
    # exceeds N/(capacity+1) — validated inside the operator, which
    # raises rather than return a near-miss.
    docs = load(spark, sf, "documents")
    return T.heavy_hitters(docs, "text", min_count=30, n=2, capacity=16384)


@query(
    "text_hashed_features",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ),
    hashed AS (
      SELECT doc_id,
             CAST(CAST(
               (CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT)) % 64
             AS BIGINT) AS INT) AS dim_idx,
             1 - 2 * (CAST(('0x' || substring(md5(token), 9, 2)) AS BIGINT) % 2)
               AS sign
      FROM toks
    )
    SELECT doc_id, dim_idx, CAST(SUM(sign) AS BIGINT) AS value
    FROM hashed GROUP BY doc_id, dim_idx
    """,
)
def q_text_hashed_features(spark: SparkSession, sf: str) -> DataFrame:
    # Hashing-trick sparse document vectors: md5-derived dimension
    # index and sign, signed counts summed per (doc, dim). Stateless
    # and engine-reproducible (no fitted vocabulary); one uniform-key
    # shuffle, at most `dim` rows per doc after the map-side combine.
    docs = load(spark, sf, "documents")
    return T.hashed_features(docs, "text", "doc_id", dim=64)


@query(
    "similarity_topk_filtered",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        (SELECT qv FROM q)), 6) AS sim
    FROM embeddings WHERE label IN (2, 5, 7)
    ORDER BY sim DESC, vec_id
    LIMIT 20
    """,
)
def q_similarity_topk_filtered(spark: SparkSession, sf: str) -> DataFrame:
    # Filtered vector search — the predicate+ANN combination: the label
    # predicate is a plain Catalyst filter PUSHED TO THE PARQUET SCAN
    # (pre-filtering, so the result is always full-k when k matches
    # exist — never the rank-then-filter trap that under-returns), and
    # ranking compiles to TakeOrderedAndProject over survivors only.
    emb = load(spark, sf, "embeddings").filter(F.col("label").isin(2, 5, 7))
    return S.cosine_topk_bruteforce(
        emb, _query_vec(spark, sf), k=20, carry=("label",)
    ).withColumn("label", F.col("label").cast("long"))


@query(
    "dedup_minhash_incremental",
    O.minhash_incremental_oracle(num_hashes=64, bands=32, threshold=0.5),
)
def q_dedup_minhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental NEAR-dup ingestion: the incoming batch (top-20%
    # md5-bucket split, same convention as dedup_incremental) probes
    # the corpus's LSH index and its own earlier rows; first-wins
    # in-batch semantics. At scale the corpus banding is a persisted
    # bucket index, so ingestion cost is one batch-sized probe — the
    # corpus-pairwise problem never recurs.
    from hadoopxmlextractor_spark.operators.corpus import stable_bucket

    docs = load(spark, sf, "documents").withColumn(
        "incoming", stable_bucket("doc_id", 100) >= 80
    )
    return D.minhash_incremental_flags(
        docs, "text", "doc_id", "incoming",
        num_hashes=64, bands=32, threshold=0.5,
    )


@query(
    "embedding_quantize_int8",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v, list_max([abs(x) FOR x IN v]) / 127.0 AS scale FROM v)
    SELECT vec_id,
      CAST(CASE WHEN scale = 0 THEN 0
           ELSE floor(scale * 1e9) END AS BIGINT) AS scale_e9,
      CAST(CASE WHEN scale = 0 THEN 0
           ELSE list_sum([abs(floor(v[i] / scale + 0.5))
                          FOR i IN generate_series(1, len(v))])
           END AS BIGINT) AS q_l1,
      CAST(CASE WHEN scale = 0 THEN 0
           ELSE list_sum([i * floor(v[i] / scale + 0.5)
                          FOR i IN generate_series(1, len(v))])
           END AS BIGINT) AS q_checksum
    FROM s
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    # int8 embedding compression (the 4× storage cut that makes a
    # 100 TB vector corpus scannable); the struct of exact integer
    # summaries makes the whole quantization transform hash-checkable
    # against DuckDB's double-precision list arithmetic.
    emb = load(spark, sf, "embeddings")
    qz = S.quantize_int8("embedding").alias("qz")
    return emb.select("vec_id", qz).select(
        "vec_id",
        F.col("qz.scale_e9").alias("scale_e9"),
        F.col("qz.q_l1").alias("q_l1"),
        F.col("qz.q_checksum").alias("q_checksum"),
    )


@query("embedding_binary_quantize", O.binary_quantize_oracle(dim=64))
def q_embedding_binary_quantize(spark: SparkSession, sf: str) -> DataFrame:
    # Sign-bit binary quantization — the 32× compression tier below
    # int8: 64 float32 dims pack into ONE int64 word, computed as a
    # pure codegen projection at scan bandwidth. The packed word is
    # bit-identical across engines (v >= 0 is exact under widening),
    # so the transform itself is hash-checked, not just its downstream.
    emb = load(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return S.binary_quantize(emb, dim=dim)


@query(
    "similarity_topk_binary",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ham AS (
      SELECT e.vec_id,
             CAST(LENGTH(LIST_FILTER(LIST_ZIP(e.embedding, (SELECT qv FROM q)),
                  p -> (p[1] >= 0) <> (p[2] >= 0))) AS BIGINT) AS hamming
      FROM embeddings e
    ),
    cand AS (SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 100)
    SELECT c.vec_id, c.hamming,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 (SELECT CAST(qv AS DOUBLE[]) FROM q)), 6) AS sim
    FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
    ORDER BY sim DESC, c.vec_id LIMIT 20
    """,
)
def q_similarity_topk_binary(spark: SparkSession, sf: str) -> DataFrame:
    # Binary-quantized ANN: hamming candidate cut over packed sign
    # bits (bit_count(xor) on ONE int64 word per 64 dims — the scan
    # reads 8 bytes/vector, a 32× cut), then exact cosine re-rank of
    # the 100 survivors via a broadcast join-back. Both stages are
    # deterministic (integer hamming, id tiebreaks), so unlike
    # IVF/PQ this approximate path needs no gate verdict — the
    # result itself is hash-exact.
    emb = load(spark, sf, "embeddings")
    qv = _query_vec(spark, sf)
    return S.hamming_topk_binary(emb, qv, dim=len(qv), k=20, candidates=100)


@query(
    "similarity_knn_classify",
    """
    WITH p AS (
      SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv,
             label AS true_label
      FROM embeddings WHERE vec_id % 11 = 3
    ),
    scored AS (
      SELECT p.probe_id, p.true_label, c.vec_id AS nid, c.label AS nlabel,
             ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), p.pv),
                   5) AS sim
      FROM embeddings c JOIN p ON c.vec_id <> p.probe_id
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY sim DESC, nid) AS rn
        FROM scored) WHERE rn <= 5
    ),
    votes AS (
      SELECT probe_id, true_label, nlabel, COUNT(*) AS votes
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT probe_id AS vec_id, true_label, nlabel AS pred_label,
           CAST(votes AS BIGINT) AS votes, nlabel = true_label AS correct
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY votes DESC, nlabel) AS vr
          FROM votes)
    WHERE vr = 1
    """,
)
def q_similarity_knn_classify(spark: SparkSession, sf: str) -> DataFrame:
    # k-NN label prediction for a deterministic probe panel (vec_id %
    # 11 = 3) against the full corpus — the embedding-quality audit.
    # The synthetic labels are independent of the vectors, so accuracy
    # hovers at chance; the operator contract (exact neighbor sets,
    # exact votes) is what the oracle checks.
    emb = load(spark, sf, "embeddings")
    probes = emb.filter((F.col("vec_id") % 11) == 3)
    return S.knn_classify(emb, probes, k=5)


@query(
    "similarity_topk_pq",
    _EXACT_TOP20_SQL.format(flag="pq_recall_ge_50pct"),
)
def q_similarity_topk_pq(spark: SparkSession, sf: str) -> DataFrame:
    # ADC over product-quantization codes (32× less scan I/O than the
    # float column) with exact re-rank of the top 12k candidates;
    # measured top-20 recall 14-20/20 across sfs → the ≥10/20 gate
    # verdict is deterministic-true with ≥4 hits of headroom. Tighter
    # recall/rank assertions: tests/test_approx_quality.py.
    return _gated_ann_topk(
        spark,
        sf,
        lambda emb, qv: S.pq_topk(emb, qv, k=20, m=8, n_codes=16, refine=12),
        "pq_recall_ge_50pct",
    )


@query(
    "similarity_topk_ivfpq",
    _EXACT_TOP20_SQL.format(flag="ivfpq_recall_ge_50pct"),
)
def q_similarity_topk_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    # The composed production shape: IVF cell pruning (nprobe=12), ADC
    # over PQ codes (refine=12), exact re-rank; measured top-20 recall
    # 14-18/20 across sfs → ≥10/20 gate verdict with ≥4 hits headroom.
    return _gated_ann_topk(
        spark,
        sf,
        lambda emb, qv: S.ivf_pq_topk(
            emb, qv, k=20, n_centroids=16, nprobe=12, m=8, n_codes=16, refine=12
        ),
        "ivfpq_recall_ge_50pct",
    )


@query(
    "text_quality_classifier",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ),
    hashed AS (
      SELECT doc_id,
             CAST(CAST(
               (CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT)) % 64
             AS BIGINT) AS INT) AS dim_idx,
             1 - 2 * (CAST(('0x' || substring(md5(token), 9, 2)) AS BIGINT) % 2)
               AS sign
      FROM toks
    ),
    feats AS (
      SELECT doc_id, dim_idx, SUM(sign) AS value
      FROM hashed GROUP BY doc_id, dim_idx
    ),
    w AS (
      SELECT CAST(j AS INT) AS dim_idx,
             CAST(('0x' || substring(md5('w:' || CAST(j AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2001 - 1000 AS w
      FROM generate_series(0, 63) AS t(j)
    ),
    m AS (
      SELECT f.doc_id, SUM(f.value * w.w) AS margin
      FROM feats f JOIN w ON f.dim_idx = w.dim_idx
      GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(m.margin, 0) AS BIGINT) AS margin,
           COALESCE(m.margin, 0) >= 0 AS keep
    FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
    """,
)
def q_text_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    # Linear (fastText-shaped) quality-classifier scoring — the model-
    # based corpus filter stage: hashed-feature vectors dotted with a
    # broadcast weight table, every document verdicted (featureless
    # docs score 0). Weights are md5-derived stand-ins for fitted
    # coefficients, making the whole pass bigint-exact; in production
    # the identical plan broadcast-joins the trained weights.
    docs = load(spark, sf, "documents")
    return T.classifier_margin(docs, "text", "doc_id", dim=64)


@query("multimodal_image_ahash", O.image_ahash_oracle(side=8))
def q_multimodal_image_ahash(spark: SparkSession, sf: str) -> DataFrame:
    # Perceptual image hashing over REAL decoded bytes: a synthetic
    # (deterministic) P6 PPM per document goes through the actual
    # encode -> container-parse -> luminance -> mean-threshold aHash
    # path; the oracle regenerates the pixel plane arithmetically and
    # must land on the SAME 64-bit hash — the strongest check the
    # codec-free multimodal layer can carry. Near-dup image grouping
    # is then the existing banded-hamming join over this column.
    docs = load(spark, sf, "documents")
    media = M.synth_ppm_media(docs, side=8)
    return M.image_ahash(media)


@query("multimodal_audio_energy", O.audio_energy_oracle())
def q_multimodal_audio_energy(spark: SparkSession, sf: str) -> DataFrame:
    # The audio half of the multimodal layer on REAL decoded bytes: a
    # deterministic PCM WAV per document goes through the stdlib wave
    # container round-trip, then frame-level sum-of-squares energy +
    # silence flags (the VAD pre-filter shape). The oracle regenerates
    # the PCM stream arithmetically — container parsing and numpy
    # windowing must land on identical int64 energies.
    docs = load(spark, sf, "documents")
    media = M.synth_wav_media(docs, n_samples=256)
    return M.audio_energy_windows(media, window=64)


@query("multimodal_video_shots", O.video_shots_oracle())
def q_multimodal_video_shots(spark: SparkSession, sf: str) -> DataFrame:
    # The video third of the multimodal layer on REAL container bytes:
    # each document gets a deterministic concatenated-PPM frame stream
    # (ffmpeg's image2pipe raw format) with scene cuts planted at
    # frames 3 and 6; the pipeline parses the stream, aHashes every
    # frame, and flags shot boundaries by consecutive-frame hamming —
    # keyframe extraction is a filter on is_boundary. The oracle
    # regenerates frames arithmetically, so container parsing, numpy
    # hashing, and the window all check hash-exact.
    docs = load(spark, sf, "documents")
    media = M.synth_ppm_video(docs, n_frames=8, side=8, cuts=(3, 6))
    return M.video_shot_boundaries(media, hamming_threshold=16)


@query(
    "text_url_blocklist",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
             || '.example' || (CAST(('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR)), 3, 1)) AS BIGINT) % 4)
             || '.com/page/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ),
    h AS (
      SELECT doc_id, url,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host
      FROM u
    )
    SELECT doc_id, url, host,
           (host LIKE '%.example0.com' OR host LIKE '%.example1.com')
             AS blocked,
           NOT (host LIKE '%.example0.com' OR host LIKE '%.example1.com')
             AS keep
    FROM h
    """,
)
def q_text_url_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    # C4-style URL filtering: a deterministic synthetic URL per doc
    # (the corpus has no url column; md5-derived hosts spread over 4
    # domains), host extraction via the built-in parse_url (JVM-side,
    # codegen — never a Python URL parser in the hot path), and a
    # suffix-matched blocklist. A real deployment broadcasts the
    # blocklist table and semi-joins on the registered domain; here
    # the 2-entry list folds into the scan predicate, which is exactly
    # what a broadcast join also achieves for a small list.
    docs = load(spark, sf, "documents")
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
            F.lit(".example"),
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 3, 1), 16, 10
                ).cast("long")
                % 4
            ).cast("string"),
            F.lit(".com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    h = u.withColumn("host", F.parse_url("url", F.lit("HOST")))
    blocked = F.col("host").endswith(".example0.com") | F.col("host").endswith(
        ".example1.com"
    )
    return h.select("doc_id", "url", "host", blocked.alias("blocked"), (~blocked).alias("keep"))


# ---------------------------------------------------------------------------
# Distributed k-means semantic clustering + cluster-balanced curation
# ---------------------------------------------------------------------------


@query("embedding_kmeans", O.kmeans_oracle(k=8, rounds=3))
def q_embedding_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    # Full-corpus Lloyd's k-means over int8-quantized embeddings — the
    # semantic-clustering primitive for cluster-balanced curation.
    # Pure int64 arithmetic end-to-end, so an ITERATIVE distributed
    # algorithm is still hash-exact against DuckDB's unrolled replay.
    emb = load(spark, sf, "embeddings")
    return S.kmeans_assignments(emb, k=8, rounds=3)


@query("corpus_diversity_sample", O.kmeans_diversity_oracle(k=8, rounds=3, cap=25))
def q_corpus_diversity_sample(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup-flavored diversity sampling: cap every semantic cluster
    # at 25 members by the deterministic (md5, vec_id) permutation, so
    # no single mode of the corpus dominates the training mix. The cap
    # rides WindowGroupLimit (rank pushed below the exchange).
    from pyspark.sql import Window

    emb = load(spark, sf, "embeddings")
    a = S.kmeans_assignments(emb, k=8, rounds=3)
    w = Window.partitionBy("centroid_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        a.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 25)
        .select("vec_id", "centroid_id", "rank")
    )


# ---------------------------------------------------------------------------
# Quality-classifier TRAINING (distributed full-batch perceptron)
# ---------------------------------------------------------------------------


@query("text_perceptron_weights", O.perceptron_weights_oracle(dim=64, rounds=4, min_words=20))
def q_text_perceptron_weights(spark: SparkSession, sf: str) -> DataFrame:
    # Distributed TRAINING of the hashed-feature quality classifier
    # (classifier_margin is the scoring half): 4 full-batch perceptron
    # rounds on word-count weak labels. The batch gradient is an
    # order-independent int64 SUM, so the iterative fit is hash-exact
    # against DuckDB's unrolled replay; only dim rows/round reach the
    # driver.
    docs = load(spark, sf, "documents")
    w, X = T.perceptron_train(docs, "text", "doc_id", dim=64, rounds=4, min_words=20)
    X.unpersist()  # weights only — done with the training table's cache
    return spark.createDataFrame(
        [(j, int(w[j])) for j in range(64)], "dim_idx int, weight long"
    )


@query(
    "text_perceptron_predictions",
    O.perceptron_predictions_oracle(dim=64, rounds=4, min_words=20),
)
def q_text_perceptron_predictions(spark: SparkSession, sf: str) -> DataFrame:
    # Score every featured doc with the trained weights: margin, ±1
    # prediction, weak label, agreement — the filter verdict a corpus
    # pipeline would apply after distilling its heuristic into a model.
    docs = load(spark, sf, "documents")
    return T.perceptron_predictions(
        docs, "text", "doc_id", dim=64, rounds=4, min_words=20
    )


@query("text_regression_suffstats", O.regression_suffstats_oracle(dim=64))
def q_text_regression_suffstats(spark: SparkSession, sf: str) -> DataFrame:
    # One-pass regression sufficient statistics (upper-triangle Gram +
    # X'y moments) — the scale pattern for linear models: reduce the
    # corpus to O(dim^2) exact integers once, then fit driver-side at
    # any corpus size. Exact int64 sums, hash-checked.
    docs = load(spark, sf, "documents")
    return T.regression_suffstats(docs, "text", "doc_id", dim=64)


@query("text_token_chi2", O.token_chi2_oracle(label_sql="lang = 'en'", min_df=5))
def q_text_token_chi2(spark: SparkSession, sf: str) -> DataFrame:
    # Chi-square discriminative-token mining (feature selection):
    # which tokens separate English docs from the rest — the statistic
    # behind mined language wordlists and classifier vocabularies.
    # Exact int64 determinant + one fixed IEEE double chain, ROUND 4.
    docs = load(spark, sf, "documents")
    return T.token_chi2(docs, "text", "doc_id", F.col("lang") == "en", min_df=5)


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + vector with reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_TOKENS = ("spark", "merge", "window")
_RRF_K = 60
_RRF_DEPTH = 50


@query(
    "search_hybrid_rrf",
    rf"""
    WITH tf AS MATERIALIZED (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents WHERE trim(text) <> '')
      WHERE token IN ('spark', 'merge', 'window')
      GROUP BY doc_id, token),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    lex AS MATERIALIZED (
      SELECT doc_id, CAST(SUM(tf * ((1000000 * n) // df)) AS BIGINT) AS lex_score
      FROM tf JOIN dfreq USING (token), tot
      GROUP BY doc_id),
    lex_rank AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (
               ORDER BY lex_score DESC, doc_id) AS INT) AS lex_rank
      FROM lex QUALIFY lex_rank <= {_RRF_DEPTH}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    sims AS MATERIALIZED (
      SELECT vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                          (SELECT qv FROM q)), 6) AS sim
      FROM embeddings),
    vec_rank AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (
               ORDER BY sim DESC, doc_id) AS INT) AS vec_rank
      FROM sims QUALIFY vec_rank <= {_RRF_DEPTH})
    SELECT doc_id, lex_rank, vec_rank,
           ROUND(COALESCE(1.0 / ({_RRF_K} + lex_rank), 0)
                 + COALESCE(1.0 / ({_RRF_K} + vec_rank), 0), 6) AS rrf
    FROM lex_rank FULL OUTER JOIN vec_rank USING (doc_id)
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def q_search_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    # Hybrid retrieval, the RAG-serving staple: a lexical leg (integer
    # tf·idf — weights are exact bigint floor divisions, so ranking is
    # engine-deterministic, unlike float BM25 whose log-idf differs in
    # the last ulp across libm implementations) and a vector leg
    # (cosine, ranked on the ROUNDED sim both engines agree on), fused
    # by reciprocal-rank fusion over INTEGER ranks. Each leg is cut to
    # a deterministic top-50 (TakeOrderedAndProject — the only global
    # sort touches 50 rows), so the fusion join is constant-sized at
    # any corpus scale.
    from pyspark.sql import Window

    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")

    toks = docs.select(
        F.col("doc_id"), F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    ).filter(F.col("token").isin(*_RRF_TOKENS))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    lex = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.expr("(1000000 * n) div df")).alias("lex_score"))
    )
    lex_top = lex.orderBy(F.desc("lex_score"), "doc_id").limit(_RRF_DEPTH)
    lex_rank = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("lex_score"), "doc_id"))
        .alias("lex_rank"),
    )

    qv = _query_vec(spark, sf)
    sims = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(S.cosine(F.col("embedding"), F.lit(qv)), 6).alias("sim"),
    )
    vec_top = sims.orderBy(F.desc("sim"), "doc_id").limit(_RRF_DEPTH)
    vec_rank = vec_top.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("sim"), "doc_id")).alias("vec_rank"),
    )

    fused = lex_rank.join(vec_rank, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(20)


@query(
    "embedding_knn_graph",
    O.knn_graph_oracle(k=3, threshold=0.3, dim=64, n_planes=4, n_tables=8),
)
def q_embedding_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    # Approximate kNN-graph construction — the primitive behind
    # graph-based ANN indexes and cluster-then-curate pipelines: LSH
    # candidate pairs (bucketed, never O(n²)), symmetrized, then
    # per-source top-k via WindowGroupLimit. Ranks are integers over
    # the ROUNDED sim both engines agree on, so the graph is
    # hash-exact despite the approximate candidate generation being
    # seeded-deterministic.
    from pyspark.sql import Window

    emb = load(spark, sf, "embeddings")
    pairs = S.cosine_pairs_lsh(
        emb, threshold=0.3, dim=64, n_planes=4, n_tables=8
    ).persist()
    pairs.count()
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "sim"
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "sim")
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), "dst")
    out = (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("src", "dst", "sim", "rank")
        # cache release: the k-bounded graph is materialized so the
        # candidate-pair cache can be freed instead of accumulating
        # across the multi-query session.
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    return out


@query("embedding_top_pc", O.top_pc_oracle(iters=24, norm_scale=10**6))
def q_embedding_top_pc(spark: SparkSession, sf: str) -> DataFrame:
    # Top principal direction of the embedding corpus — the PCA
    # primitive behind whitening / OPQ rotation pre-passes and
    # embedding-drift monitoring. Integer-exact power iteration over
    # the int8-quantized Gram matrix: one distributed dim²-bounded
    # Gram pass, then driver-side arbitrary-precision integer rounds
    # (truncating division mirrors DuckDB's //), so an ITERATIVE
    # eigen-solve is hash-exact across engines. Quality gate vs
    # numpy's exact eigendecomposition: tests/test_approx_quality.py.
    emb = load(spark, sf, "embeddings")
    # iters=24: measured Rayleigh capture >= 0.977 of the true top
    # eigenvalue across sf0.001/0.01/0.1 (0.95 gate in pytest)
    return S.top_principal_component(emb, iters=24)


@query(
    "governance_k_anonymity",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS group_size,
             CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                  AS BIGINT) AS l_diversity
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment, group_size, l_diversity,
           group_size < 5 AS k_violation,
           l_diversity < 3 AS l_violation
    FROM g
    """,
)
def q_governance_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    # Privacy-risk audit before sharing a derived dataset: k-anonymity
    # (every quasi-identifier combination must describe >= k people)
    # and l-diversity (each group must span >= l sensitive-value
    # buckets, or the group leaks the sensitive attribute even at
    # size k). One uniform-key aggregate over the quasi-identifiers;
    # the sensitive bucket uses bit-deterministic floor binning.
    cust = load(spark, sf, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).alias("l_diversity"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        "l_diversity",
        (F.col("group_size") < 5).alias("k_violation"),
        (F.col("l_diversity") < 3).alias("l_violation"),
    )


@query("multimodal_image_neardup", O.image_neardup_oracle(side=8, max_hamming=6))
def q_multimodal_image_neardup(spark: SparkSession, sf: str) -> DataFrame:
    # Near-dup IMAGE detection, closing the loop the aHash query
    # opens: perceptual hashes feed the SAME 8-chunk pigeonhole
    # banded-hamming join the SimHash text path uses (exact recall for
    # thresholds <= 7 — the oracle replays all-pairs and must agree).
    # Codec blobs hash to NULL and drop out before the join.
    docs = load(spark, sf, "documents")
    # r14-opt (guide §5): the hash table feeds the planted-union's two
    # branches AND both banded-join sides — unpersisted, the image
    # synth+decode+hash kernel ran 4× (8× before the §4.4 markers).
    # The cache is (id, hash) — dimension-sized at any scale.
    ah = M.image_ahash(M.synth_ppm_media(docs, side=8)).filter(
        F.col("ahash").isNotNull()
    ).persist()
    ah.count()
    # Plant every 25th image again under a shifted id: the synthetic
    # planes are md5-random (no organic near-dups), and a detector
    # verified on an empty result proves nothing.
    ah = ah.unionByName(
        ah.filter(F.col("media_id") % 25 == 0).select(
            (F.col("media_id") + 10000000).alias("media_id"), "ahash"
        )
    )
    pairs = D.simhash_near_pairs(
        ah.select(F.col("media_id").alias("doc"), F.col("ahash").alias("simhash")),
        max_hamming=6,
        max_bucket=100000,
    )
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


@query("embedding_kmeans_profile", O.kmeans_profile_oracle(k=8, rounds=3))
def q_embedding_kmeans_profile(spark: SparkSession, sf: str) -> DataFrame:
    # Cluster-profile diagnostics over the k-means fit: per-cluster
    # size, total inertia, floor-division mean distance — the
    # elbow/balance readout consulted before trusting a clustering for
    # curation. A k-row aggregate over the assignment pass.
    emb = load(spark, sf, "embeddings")
    a = S.kmeans_assignments(emb, k=8, rounds=3)
    return a.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("dist").alias("inertia"),
        F.expr("sum(dist) div count(1)").alias("mean_dist"),
    )


@query(
    "embedding_data_contract",
    """
    WITH v AS (
      SELECT embedding,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE CAST(embedding AS DOUBLE[]) END AS d
      FROM embeddings
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_vec,
           CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(d) <> 64
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
           CAST(SUM(CASE WHEN embedding IS NOT NULL
                         AND len([x FOR x IN d IF isnan(x) OR isinf(x)]) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
           CAST(SUM(CASE WHEN embedding IS NOT NULL
                         AND len([x FOR x IN d IF isnan(x) OR isinf(x)]) = 0
                         AND list_sum([x * x FOR x IN d]) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm
    FROM v
    """,
)
def q_embedding_data_contract(spark: SparkSession, sf: str) -> DataFrame:
    # Vector-store ingest gate (the embeddings counterpart of
    # corpus_data_contract): null vectors, dimension drift, NaN/Inf
    # lanes, and zero-norm vectors (undefined cosine) — counted in ONE
    # scan-bandwidth pass; a pipeline asserts all four are zero before
    # indexing. HOFs stay in a top-level projection.
    emb = load(spark, sf, "embeddings")
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nonfinite = F.exists(d, lambda x: F.isnan(x) | (F.abs(x) == float("inf")))
    zero_norm = (
        F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x) == 0.0
    )
    flags = emb.select(
        F.col("embedding").isNull().alias("is_null"),
        (F.col("embedding").isNotNull() & (F.size("embedding") != 64)).alias(
            "wrong_dim"
        ),
        (F.col("embedding").isNotNull() & nonfinite).alias("nonfinite"),
        (F.col("embedding").isNotNull() & ~nonfinite & zero_norm).alias(
            "zero_norm"
        ),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("is_null").cast("long")).alias("n_null_vec"),
        F.sum(F.col("wrong_dim").cast("long")).alias("n_wrong_dim"),
        F.sum(F.col("nonfinite").cast("long")).alias("n_nonfinite"),
        F.sum(F.col("zero_norm").cast("long")).alias("n_zero_norm"),
    )


@query(
    "governance_masked_export",
    """
    SELECT c_custkey,
           md5(c_name) AS name_token,
           CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_bucket,
           c_mktsegment,
           CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE c_nationkey END
             AS nationkey_redacted
    FROM customer
    """,
)
def q_governance_masked_export(spark: SparkSession, sf: str) -> DataFrame:
    # The companion to the k-anonymity audit: the masked EXPORT shape —
    # direct identifiers tokenized (keyed md5 in production; plain md5
    # here so the oracle can replay), sensitive numerics coarsened to
    # buckets (bit-deterministic floor), and a policy-driven partial
    # redaction. Pure projection: masking composes with pushdown and
    # costs nothing at scan time.
    cust = load(spark, sf, "customer")
    return cust.select(
        "c_custkey",
        F.md5("c_name").alias("name_token"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("bigint")
        .alias("acctbal_bucket"),
        "c_mktsegment",
        F.when(F.col("c_nationkey") % 5 == 0, F.lit(None).cast("int"))
        .otherwise(F.col("c_nationkey"))
        .alias("nationkey_redacted"),
    )


@query(
    "dedup_ngram_containment",
    r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                    ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in generate_series(1, len(w) - 2)]
               END
             ) AS shingles
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents)
    )
    SELECT doc_a, doc_b, shared, containment FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS shared,
             ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                   / least(len(a.shingles), len(b.shingles)), 4) AS containment
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    WHERE containment >= 0.6
    """,
)
def q_dedup_ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    # Containment dedup: catches a doc PASTED INSIDE a larger one —
    # Jaccard is structurally blind to subset duplication (50 shingles
    # inside 5000 → Jaccard ≤ 0.01 but containment 1.0). Same inverted
    # index and skew guards as the Jaccard pass, one extra projection.
    docs = load(spark, sf, "documents")
    return D.ngram_containment_pairs(docs, "text", "doc_id", n=3, threshold=0.6)


@query(
    "text_cjk_accounting",
    r"""
    WITH t AS (
      SELECT doc_id,
             text || repeat('中文字', CAST(doc_id % 4 AS INT)) AS txt
      FROM documents WHERE lang = 'zh'
    )
    SELECT doc_id,
           CAST(length(txt) AS BIGINT) AS n_chars,
           CAST(length(txt)
                - length(regexp_replace(txt, '[一-鿿]', '', 'g'))
                AS BIGINT) AS n_cjk,
           CAST(length(txt)
                - length(regexp_replace(txt, '[一-鿿]', '', 'g'))
                + len(regexp_split_to_array(
                    trim(regexp_replace(txt, '[一-鿿]', '', 'g')), '\s+'))
                AS BIGINT) AS est_tokens
    FROM t
    """,
)
def q_text_cjk_accounting(spark: SparkSession, sf: str) -> DataFrame:
    # Token accounting for scripts whitespace tokenization cannot
    # segment: every CJK codepoint counts as one token, the residue
    # tokenizes by whitespace. The synthetic zh docs carry latin text,
    # so deterministic CJK runs are PLANTED (doc_id-derived repeat —
    # the planted-evidence rule); the query pins multibyte length
    # semantics and unicode-range regex parity across engines.
    docs = load(spark, sf, "documents").filter(F.col("lang") == "zh")
    txt = F.concat(
        F.col("text"), F.repeat(F.lit("中文字"), (F.col("doc_id") % 4).cast("int"))
    )
    residue = F.regexp_replace(txt, "[一-鿿]", "")
    n_cjk = (F.length(txt) - F.length(residue)).cast("bigint")
    return docs.select(
        "doc_id",
        F.length(txt).cast("bigint").alias("n_chars"),
        n_cjk.alias("n_cjk"),
        (n_cjk + F.size(F.split(F.trim(residue), r"\s+")).cast("bigint")).alias(
            "est_tokens"
        ),
    )


@query("text_ngram_novelty", O.ngram_novelty_oracle())
def q_text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    # Novelty rate — the inverse of the boilerplate signals: the
    # fraction of a doc's distinct shingles that appear NOWHERE else
    # in the corpus. High-novelty docs carry information the mixture
    # should up-weight; near-zero novelty marks templated content.
    # Same inverted index shape as dedup: distinct shingles explode
    # once, the df table is shingle-keyed (uniform), and the join-back
    # rides the same key before a doc-keyed rollup.
    docs = load(spark, sf, "documents")
    sh = docs.select(
        "doc_id", D.shingle_hashes("text", 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle")).persist()
    inv.count()
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    out = (
        inv.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(
                F.col("n_unique").cast("double")
                / F.col("n_shingles").cast("double"),
                4,
            ).alias("novelty"),
        )
        # cache release: the doc-level rollup is shingle-count× smaller
        # than the exploded inverted index — materialize it and free inv.
        .localCheckpoint(eager=True)
    )
    inv.unpersist()
    return out


@query(
    "dedup_sorted_neighborhood",
    r"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    u AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 30000000 AS doc_id, text || ' snm planted tail' AS text
      FROM base WHERE doc_id % 97 = 0
    ),
    keyed AS (
      SELECT doc_id, text, lower(trim(text)) AS sk,
             substring(lower(trim(text)), 1, 12) AS blk
      FROM u
    ),
    led AS (
      SELECT doc_id, text,
             lead(doc_id, 1) OVER w AS nid1, lead(text, 1) OVER w AS ntx1,
             lead(doc_id, 2) OVER w AS nid2, lead(text, 2) OVER w AS ntx2,
             lead(doc_id, 3) OVER w AS nid3, lead(text, 3) OVER w AS ntx3
      FROM keyed
      WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id)
    ),
    cand AS (
      SELECT doc_id, text, nid1 AS nid, ntx1 AS ntx, 1 AS dist
      FROM led WHERE nid1 IS NOT NULL
      UNION ALL
      SELECT doc_id, text, nid2, ntx2, 2 FROM led WHERE nid2 IS NOT NULL
      UNION ALL
      SELECT doc_id, text, nid3, ntx3, 3 FROM led WHERE nid3 IS NOT NULL
    ),
    scored AS (
      SELECT doc_id, nid, dist,
             ROUND(len(list_intersect(wa, wb))::DOUBLE
                   / (len(wa) + len(wb) - len(list_intersect(wa, wb))),
                   4) AS jaccard
      FROM (SELECT doc_id, nid, dist,
                   list_distinct(regexp_split_to_array(trim(text), '\s+')) AS wa,
                   list_distinct(regexp_split_to_array(trim(ntx), '\s+')) AS wb
            FROM cand)
    )
    SELECT least(doc_id, nid) AS doc_a,
           greatest(doc_id, nid) AS doc_b,
           CAST(dist AS INT) AS dist,
           jaccard
    FROM scored
    WHERE jaccard >= 0.5
    """,
)
def q_dedup_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    # Sorted-neighborhood blocking (Hernandez & Stolfo '95): the
    # sort-based alternative to LSH blocking — one per-block sort, a
    # fixed (window-1)*n candidate budget, JVM-only verification. The
    # synthetic corpus has no organic prefix near-dups, so evidence is
    # PLANTED (vacuous-check rule): every 97th doc gets a shifted-id
    # twin with an appended footer — same block, adjacent in sort
    # order, high Jaccard — replayed identically in the oracle.
    docs = load(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    base = docs.select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 30000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" snm planted tail")).alias("text"),
    )
    return D.sorted_neighborhood_pairs(
        base.unionByName(planted),
        "text",
        "doc_id",
        block_prefix=12,
        window=4,
        threshold=0.5,
    )


@query(
    "dedup_fuzzy_join",
    r"""
    WITH u AS (
      SELECT p_partkey AS id, trim(p_name) AS t FROM part
      UNION ALL
      SELECT p_partkey + 10000000 AS id,
             substring(trim(p_name), 1, length(trim(p_name)) - 1) || 'x' AS t
      FROM part WHERE p_partkey % 31 = 0
    ),
    keyed AS (
      SELECT id, t,
             regexp_split_to_array(t, '\s+')[1] || '|'
               || CAST(length(t) // 8 AS VARCHAR) AS blk
      FROM u WHERE t IS NOT NULL AND t <> ''
    ),
    classes AS (SELECT blk, t, MIN(id) AS rep FROM keyed GROUP BY blk, t),
    ok AS (SELECT blk FROM classes GROUP BY blk HAVING COUNT(*) <= 1000),
    k AS (SELECT classes.* FROM classes JOIN ok USING (blk))
    SELECT least(a.rep, b.rep) AS id_a, greatest(a.rep, b.rep) AS id_b,
           CAST(levenshtein(a.t, b.t) AS INT) AS dist
    FROM k a JOIN k b ON a.blk = b.blk AND a.t < b.t
    WHERE levenshtein(a.t, b.t) <= 2
    """,
)
def q_dedup_fuzzy_join(spark: SparkSession, sf: str) -> DataFrame:
    # Edit-distance record linkage over entity names: collapse exact
    # duplicates into min-id classes (part names repeat heavily — 64
    # distinct among 2000 at sf0.01; pairing copies would be quadratic
    # in group size), block classes on (first token, length bucket),
    # exact Levenshtein verify at dist ≥ 1. Part names have no organic
    # typos, so evidence is PLANTED (vacuous-check rule): every 31st
    # part gets a shifted-id twin with the last character replaced —
    # same block, distance ≤ 1 — replayed identically in the oracle.
    part = load(spark, sf, "part")
    t = F.trim(F.col("p_name"))
    base = part.select(F.col("p_partkey").alias("pid"), t.alias("name"))
    planted = part.filter(F.col("p_partkey") % 31 == 0).select(
        (F.col("p_partkey") + 10000000).alias("pid"),
        F.concat(F.expr("substring(trim(p_name), 1, length(trim(p_name)) - 1)"), F.lit("x")).alias("name"),
    )
    return D.fuzzy_join(
        base.unionByName(planted), "name", "pid", max_dist=2, len_bucket=8,
        max_block=1000,
    )


@query(
    "text_url_canonical_dedup",
    r"""
    WITH u AS (
      SELECT doc_id,
        'https://'
        || CASE WHEN doc_id % 3 = 0
                THEN upper('www.example' || CAST((doc_id % 500) % 4 AS VARCHAR) || '.com')
                ELSE 'www.example' || CAST((doc_id % 500) % 4 AS VARCHAR) || '.com' END
        || CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END
        || '/Page/' || CAST(doc_id % 500 AS VARCHAR)
        || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        || CASE WHEN doc_id % 2 = 0
                THEN '?x=' || CAST((doc_id % 500) % 3 AS VARCHAR)
                     || '&utm_source=s' || CAST(doc_id % 9 AS VARCHAR)
                WHEN doc_id % 10 = 1 THEN '?utm_campaign=c'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id AS VARCHAR)
                ELSE '' END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id,
             regexp_replace(url, '#.*', '', 'g') AS nf
      FROM u
    ),
    pieces AS (
      SELECT doc_id,
        lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1)) AS rawhost,
        regexp_replace(regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                       '/+$', '', 'g') AS path,
        regexp_replace(regexp_replace('&' || regexp_extract(nf, '\?([^#]*)', 1),
                       '&(utm_[a-z]+|fbclid|gclid)=[^&]*', '', 'g'),
                       '^&', '', 'g') AS q
      FROM parts
    ),
    canon AS (
      SELECT doc_id,
        scheme || '://'
        || CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '', 'g')
                WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '', 'g')
                ELSE rawhost END
        || CASE WHEN path = '' THEN '/' ELSE path END
        || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS curl
      FROM pieces
    )
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           MIN(doc_id) AS survivor_id
    FROM canon GROUP BY curl
    """,
)
def q_text_url_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Crawl-frontier URL dedup: re-crawls of one page arrive under
    # cosmetic variations — host case, default port, trailing slash,
    # tracking params, fragments (all PLANTED deterministically from
    # doc_id; the corpus has no url column) — and must collapse to one
    # frontier entry. canonical_url is a pure JVM regexp chain at scan
    # bandwidth; the dedup is a uniform-key groupBy on the canonical
    # string (min-id survivor), the same shape as dedup_exact.
    docs = load(spark, sf, "documents")
    did = F.col("doc_id")
    page = did % 500
    host_base = F.concat(
        F.lit("www.example"), (page % 4).cast("string"), F.lit(".com")
    )
    url = F.concat(
        F.lit("https://"),
        F.when(did % 3 == 0, F.upper(host_base)).otherwise(host_base),
        F.when(did % 6 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Page/"),
        page.cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("?x="),
                (page % 3).cast("string"),
                F.lit("&utm_source=s"),
                (did % 9).cast("string"),
            ),
        )
        .when(did % 10 == 1, F.lit("?utm_campaign=c"))
        .otherwise(F.lit("")),
        F.when(
            did % 5 == 0, F.concat(F.lit("#sec"), did.cast("string"))
        ).otherwise(F.lit("")),
    )
    return (
        docs.select("doc_id", T.canonical_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").alias("survivor_id"),
        )
    )


@query(
    "text_countmin_freq",
    r"""
    WITH tok AS MATERIALIZED (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    cells AS MATERIALIZED (
      SELECT row, cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT x.i AS row,
               CAST(('0x' || substring(md5(CAST(x.i AS VARCHAR) || ':' || token),
                     1, 8)) AS BIGINT) % 16 AS cell
        FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) x
      ) GROUP BY row, cell
    ),
    exact AS MATERIALIZED (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY token
      ORDER BY exact_cnt DESC, token LIMIT 50
    ),
    probe AS (
      SELECT exact.token, x.i AS row,
             CAST(('0x' || substring(md5(CAST(x.i AS VARCHAR) || ':'
                   || exact.token), 1, 8)) AS BIGINT) % 16 AS cell
      FROM exact CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) x
    ),
    est AS (
      SELECT p.token, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cm_est
      FROM probe p LEFT JOIN cells c ON c.row = p.row AND c.cell = p.cell
      GROUP BY p.token
    )
    SELECT e.token, e.exact_cnt, s.cm_est,
           (s.cm_est >= e.exact_cnt) AS is_overestimate
    FROM exact e JOIN est s USING (token)
    """,
)
def q_text_countmin_freq(spark: SparkSession, sf: str) -> DataFrame:
    # Count-min sketch frequency estimates, audited against exact
    # counts for the top-50 tokens: the fixed-size mergeable summary
    # that answers "how frequent is X" for ANY token (Misra-Gries only
    # answers for pre-qualified heavy hitters). The one-sided error
    # guarantee (est >= exact, collisions only add) is emitted as a
    # hashed column, so the driver verifies the sketch's defining
    # property, not just its shape. Width 16 (not the production
    # default 1024) because the synthetic vocabulary is 31 tokens —
    # collisions must actually occur for the estimator to be exercised
    # (the vacuous-check rule applied to approximation pressure).
    docs = load(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    sketch = T.countmin_sketch(docs, "text", depth=4, width=16)
    tokf = docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    exact = (
        tokf.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(50)
        .persist()
    )
    exact.count()  # eager: feeds the probe set and the final join
    est = T.countmin_estimates(sketch, exact, depth=4, width=16)
    out = (
        exact.join(est, "token")
        .select(
            "token",
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") >= F.col("exact_cnt")).alias("is_overestimate"),
        )
        .localCheckpoint(eager=True)
    )
    exact.unpersist()
    return out


@query(
    "corpus_paragraph_dedup",
    r"""
    WITH uni AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE text IS NOT NULL AND doc_id % 10 = 0
    ),
    tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
            FROM uni WHERE trim(text) <> ''),
    par AS (SELECT doc_id, k AS para_idx,
                   md5(array_to_string(t[k*20+1 : k*20+20], ' ')) AS h
            FROM tok, (SELECT unnest(range(0, 512)) AS k) ks
            WHERE k <= (len(t) - 1) // 20),
    fl AS (SELECT doc_id,
                  ROW_NUMBER() OVER (PARTITION BY h
                                     ORDER BY doc_id, para_idx) > 1 AS dup
           FROM par)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
           ROUND(CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM fl GROUP BY doc_id
    """,
)
def q_corpus_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Paragraph-granularity exact dedup (C4/Dolma style): per-doc
    # duplicated-paragraph fraction with global first-wins. The
    # synthetic corpus has no organic cross-doc 20-token repeats, so
    # PLANTED evidence (every 10th doc re-landed under a shifted id —
    # a recrawl) makes the detector provably non-vacuous: replicas
    # must report dup_frac 1.0 while their originals stay 0.
    docs = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    uni = docs.select("doc_id", "text").unionByName(planted)
    return D.paragraph_dedup_stats(uni, "text", "doc_id", para_tokens=20)


@query(
    "text_tfidf_topk",
    r"""
    WITH base AS (SELECT doc_id, text FROM documents
                  WHERE text IS NOT NULL AND trim(text) <> ''),
    tok AS (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS token
            FROM base),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, token),
    dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY token),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM base),
    s AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
                 tf.tf * ((n.nd * 1000000) // dfq.df) AS score
          FROM tf JOIN dfq USING (token), n),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY score DESC, token) AS INT) AS rn
          FROM s)
    SELECT doc_id, token, tf, df, CAST(score AS BIGINT) AS score, rn
    FROM r WHERE rn <= 3
    """,
)
def q_text_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    # Integer-exact tf-idf keyword extraction: scaled floor-division
    # idf (never libm log — cross-engine last-bit divergence), per-doc
    # top-3 via WindowGroupLimit. The df table broadcasts; the only
    # doc-keyed shuffle is the ranking window.
    docs = load(spark, sf, "documents")
    return T.tfidf_topk_keywords(docs, "text", "doc_id", k=3)


@query(
    "similarity_maxsim_multivector",
    """
    WITH v AS (SELECT vec_id // 4 AS group_id, vec_id,
                      CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE group_id = 0),
    p AS (SELECT v.group_id, q.q_id,
                 CAST(ROUND(list_cosine_similarity(v.e, q.qe), 6)
                      AS DECIMAL(18,6)) AS sim
          FROM v, q WHERE v.group_id <> 0),
    m AS (SELECT group_id, q_id, MAX(sim) AS best
          FROM p GROUP BY group_id, q_id)
    SELECT group_id, CAST(SUM(best) AS DOUBLE) AS maxsim
    FROM m GROUP BY group_id
    ORDER BY maxsim DESC, group_id
    LIMIT 10
    """,
)
def q_similarity_maxsim_multivector(spark: SparkSession, sf: str) -> DataFrame:
    # ColBERT-style late-interaction retrieval over multi-vector
    # groups (vec_id div 4): sum over query vectors of the best
    # candidate-vector cosine. Decimal-widened rounded sims make the
    # 4-term sum order-free, so the approximate-free score pipeline is
    # hash-exact.
    emb = load(spark, sf, "embeddings")
    return S.maxsim_topk_multivector(emb, query_group=0, group_size=4, k=10)


@query("similarity_mmr_topk", O.mmr_oracle(k=10, pool=50, lam_tenths=7))
def q_similarity_mmr_topk(spark: SparkSession, sf: str) -> DataFrame:
    # MMR diversity re-ranking of the top-50 cosine pool: integer
    # micro-sim objective 7·sim_q − 3·max_selected, ties to lowest id
    # — the retrieved-context dedup pass, bit-exact and replayed by
    # the oracle as unrolled MATERIALIZED selection rounds.
    emb = load(spark, sf, "embeddings")
    return S.mmr_diversified_topk(
        emb, _query_vec(spark, sf), k=10, pool=50, lam_tenths=7
    )


@query(
    "dedup_shared_substring_runs",
    O.shared_runs_oracle(
        n=5, min_run_tokens=15, max_df=100, plant_mod=25, plant_tokens=40
    ),
)
def q_dedup_shared_substring_runs(spark: SparkSession, sf: str) -> DataFrame:
    # Exact repeated-substring spans (the Lee et al. 50-token
    # criterion, scaled to the synthetic doc length): longest shared
    # consecutive-shingle run per doc pair. PLANTED evidence per the
    # vacuous-check rule: every 25th doc re-lands under a shifted id
    # carrying its first 40 tokens between fresh head/tail markers —
    # those pairs must report a ≥15-token run. n=5 positional shingles
    # because this corpus draws from a TINY vocabulary: background df
    # of ordered 3-grams floods the fan-out cap as the corpus grows
    # (measured 10×: planted pairs vanish under the cap), while 5-gram
    # combinatorics keep background df ≪ cap and copied spans rare —
    # the scale-rehearsed configuration.
    docs = load(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    planted = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr(
            "concat('ph', cast(doc_id as string), ' ', "
            "array_join(slice(split(trim(text), '\\\\s+'), 1, 40), ' '), "
            "' pt', cast(doc_id as string))"
        ).alias("text"),
    )
    uni = docs.select("doc_id", "text").unionByName(planted)
    return D.shared_run_pairs(
        uni, "text", "doc_id", n=5, min_run_tokens=15, max_df=100
    )


@query(
    "corpus_distribution_drift",
    """
    WITH o AS (
      SELECT n_chars + CASE WHEN doc_id % 5 = 0 THEN 120 ELSE 0 END AS v,
             0 AS side
      FROM documents WHERE doc_id % 7 <> 0
    ), n AS (
      SELECT n_chars AS v, 1 AS side FROM documents WHERE doc_id % 11 <> 0
    ), both_sides AS (
      SELECT * FROM o UNION ALL SELECT * FROM n
    ), rng AS (
      SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM both_sides
    ), bucketed AS (
      SELECT side,
             LEAST(7, CAST(((v - vmin) * 8) // (vmax - vmin + 1) AS INT))
               AS bucket
      FROM both_sides, rng
    ), counts AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_old,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM bucketed GROUP BY bucket
    ), totals AS (
      SELECT CAST(SUM(n_old) AS DOUBLE) AS ta,
             CAST(SUM(n_new) AS DOUBLE) AS tb
      FROM counts
    ), terms AS (
      SELECT bucket, n_old, n_new,
             ROUND(
               POW(CAST(n_old AS DOUBLE)
                   - CAST(n_old + n_new AS DOUBLE) * ta / (ta + tb), 2.0)
               / (CAST(n_old + n_new AS DOUBLE) * ta / (ta + tb))
               +
               POW(CAST(n_new AS DOUBLE)
                   - CAST(n_old + n_new AS DOUBLE) * tb / (ta + tb), 2.0)
               / (CAST(n_old + n_new AS DOUBLE) * tb / (ta + tb)),
             6) AS term
      FROM counts, totals
    )
    SELECT bucket, n_old, n_new, term,
           ROUND(CAST((SELECT SUM(CAST(term AS DECIMAL(38,6))) FROM terms)
                 AS DOUBLE), 6) AS chi2
    FROM terms
    """,
)
def q_corpus_distribution_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Distribution-shape drift between snapshot versions: a two-sample
    # chi-square over 8 equal-width buckets of n_chars — catches the
    # upstream truncation / new-skewed-source failure that leaves row
    # counts and cardinalities (profile_drift's signals) intact. The
    # old version PLANTS a +120-char shift on doc_id%5 (the
    # vacuous-check rule: drift must be genuinely present). Per-bucket
    # terms round to 6 digits and sum as DECIMAL so the statistic is
    # order-free on both engines.
    from hadoopxmlextractor_spark.snapshots import distribution_drift

    docs = load(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "n_chars",
        F.col("n_chars")
        + F.when(F.col("doc_id") % 5 == 0, F.lit(120)).otherwise(F.lit(0)),
    )
    new = docs.filter(F.col("doc_id") % 11 != 0)
    return distribution_drift(old, new, "n_chars", n_buckets=8)


@query("embedding_semdedup", O.semdedup_oracle(k=8, rounds=3))
def q_embedding_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023): semantic near-dup pruning with the
    # quadratic bounded INSIDE k-means clusters - pairwise cosine never
    # crosses clusters, so cost is SUM(cluster^2), not N^2, and k
    # scaling with the corpus keeps cluster sizes constant (the
    # published web-scale trick). Every vec_id % 100 == 0 is mirrored
    # at +1_000_000 (identical vector -> guaranteed same-cluster
    # near-dup) so the prune branch is provably non-vacuous per the
    # planted-evidence rule; the original (lower dist tie -> lower id)
    # survives, the plant is pruned. Exact end-to-end: integer kmeans,
    # centered int8 dots, cross-multiplied cosine threshold 9/20.
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    return S.semdedup_prune(
        emb.unionByName(planted), k=8, rounds=3,
        threshold_num=9, threshold_den=20,
    )


@query(
    "text_sentence_semdedup",
    O.semdedup_oracle(
        k=8, rounds=3, threshold_num=19, threshold_den=20,
        base_sql=O.sentence_semdedup_base_sql(),
    ),
)
def q_text_sentence_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    # SENTENCE-level SemDeDup (r6 verdict item 8): near-dup pruning
    # BELOW paragraph granularity - the udtf_sentence_split '.'
    # segmentation composed with 8-token sub-chunking (this corpus is
    # unpunctuated, so the chunk window is what creates sub-document
    # units), each unit embedded by the md5 hashing trick
    # (text_hashed_features arithmetic, dim 16) and pruned by the same
    # integer-exact semdedup machinery as embedding_semdedup. The
    # first chunk of every 20th doc is mirrored at +1e12 (identical
    # vector -> same cluster -> pruned by (dist,id) dominance), so the
    # prune branch is provably live per the vacuous-check rule - and
    # the tiny shared vocabulary makes cross-document chunk collisions
    # organic, which is exactly the boilerplate sentence dedup this
    # operator exists for. Cost stays SUM(cluster^2), never N^2.
    from pyspark.sql import Window

    dim = 16
    docs = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    sent = docs.select(
        "doc_id", F.posexplode(F.split("text", r"\.")).alias("ord", "piece")
    ).filter(F.trim("piece") != "")
    w = Window.partitionBy("doc_id").orderBy("ord")
    sent = sent.select(
        "doc_id", (F.row_number().over(w) - 1).alias("sidx"), "piece"
    )
    tok = sent.select(
        "doc_id",
        "sidx",
        F.posexplode(T.tokens(F.lower(F.col("piece")))).alias("tpos0", "token"),
    )
    h = F.md5(F.col("token"))
    # Unit-id packing doc·1e8 + sidx·1e4 + chunk (r7 advice: the old
    # 1e5/1e3 strides overflowed at 100 sentences/doc or 8k-token
    # sentences, silently MERGING distinct units). Out-of-range sidx/
    # chunk now raises mid-expression instead of colliding — the
    # raise_error branch is part of the projected column, so Catalyst
    # cannot prune the guard away.
    packed = (
        F.col("doc_id").cast("long") * 100000000
        + F.col("sidx").cast("long") * 10000
        + F.expr("tpos0 div 8")
    )
    in_bounds = (F.col("sidx") < 10000) & (F.expr("tpos0 div 8") < 10000)
    hashed = tok.select(
        F.when(in_bounds, packed)
        .otherwise(
            F.raise_error(
                F.lit("sentence_semdedup unit-id overflow: sidx or chunk >= 1e4")
            ).cast("long")
        )
        .alias("vec_id"),
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim)
        .cast("int")
        .alias("dim_idx"),
        (
            F.lit(1)
            - F.lit(2) * (F.conv(F.substring(h, 9, 2), 16, 10).cast("long") % 2)
        )
        .cast("long")
        .alias("value"),
    )
    dense = hashed.groupBy("vec_id").agg(
        F.array(
            *[
                F.sum(
                    F.when(F.col("dim_idx") == d, F.col("value")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                for d in range(dim)
            ]
        ).alias("embedding")
    )
    # r15 opt (guide §5): dense feeds itself AND the plant mirror —
    # unpersisted, the token-explode + 16-way pivot aggregate ran once
    # per union branch while semdedup_prune materialized its input.
    # Unit-cardinality numeric cache; eager count per the AQE race
    # rule.
    dense = dense.persist()
    dense.count()
    plants = dense.filter(
        (F.col("vec_id") % 10000 == 0)
        & (F.expr("(vec_id div 100000000) % 20") == 0)
    ).select((F.col("vec_id") + F.lit(10**15)).alias("vec_id"), "embedding")
    # 19/20: with a 31-token vocabulary the 9/20 doc-level default
    # prunes ~99.8% of chunks (degenerate); 0.95 keeps ~90% and prunes
    # the genuinely near-identical ones (and all 25 plants).
    pruned = S.semdedup_prune(
        dense.unionByName(plants), k=8, rounds=3,
        threshold_num=19, threshold_den=20,
    )
    # semdedup_prune has materialized its own cache of the union, so the
    # returned plan no longer reads dense; a loaded dependent cache
    # survives the non-cascading unpersist.
    dense.unpersist()
    return pruned


@query("multimodal_png_ahash", O.image_ahash_oracle(side=8))
def q_multimodal_png_ahash(spark: SparkSession, sf: str) -> DataFrame:
    # The PNG codec leg made REAL without PIL: the same deterministic
    # md5 pixel plane as multimodal_image_ahash, containered through
    # the zero-dependency PNG encoder (stdlib zlib, CRC chunks,
    # filter-0 scanlines), decoded back by the native PNG decoder
    # (chunk walk, inflate, all-five-filter unfiltering), then aHashed.
    # The oracle is the SAME arithmetic md5 replay as the PPM query -
    # pixels are identical iff the container roundtrip is lossless, so
    # a single byte wrong anywhere in the codec flips the hash.
    docs = load(spark, sf, "documents")
    media = M.synth_png_media(docs, side=8)
    return M.image_ahash(media)


@query("multimodal_tiff_ahash", O.image_ahash_oracle(side=8))
def q_multimodal_tiff_ahash(spark: SparkSession, sf: str) -> DataFrame:
    # TIFF joins the natively-decoded container tier (r7) - the
    # scanned-document format: IFD tag walk in BOTH byte orders,
    # strip reassembly at any RowsPerStrip, PackBits RLE. The synth
    # rotates layout per doc (II/MM by parity, PackBits every 3rd,
    # 3-row strips on odd ids) so one aHash oracle certifies the
    # whole decode matrix - same md5-plane arithmetic replay as the
    # PPM/PNG/GIF/BMP routes.
    docs = load(spark, sf, "documents")
    media = M.synth_tiff_media(docs, side=8)
    return M.image_ahash(media)


@query("multimodal_png_interlaced", O.image_ahash_oracle(side=8))
def q_multimodal_png_interlaced(spark: SparkSession, sf: str) -> DataFrame:
    # 'Exotic' PNG made native (r7): the SAME md5 pixel plane,
    # containered as a 16-BIT Adam7-INTERLACED PNG - seven
    # independently-filtered passes scattered by the pass geometry,
    # big-endian v*257 samples reduced back by the high byte - and
    # aHashed against the SAME arithmetic oracle as the PPM/PNG/GIF
    # routes. One wrong byte in the pass geometry, the per-pass
    # unfilter restart, or the 16-bit reduction flips the hash. This
    # closes the last PNG shape that used to route to the PIL plug-in
    # (only bit depths 1/2/4 remain there).
    docs = load(spark, sf, "documents")
    media = M.synth_png_media(docs, side=8, depth=16, interlace=True)
    return M.image_ahash(media)


@query("multimodal_gif_ahash", O.image_ahash_oracle(side=8))
def q_multimodal_gif_ahash(spark: SparkSession, sf: str) -> DataFrame:
    # The GIF codec leg made REAL without PIL: same md5 pixel plane,
    # containered through the zero-dependency GIF encoder (own GIF-LZW
    # with variable-width codes + palette), decoded back by the native
    # GIF decoder (LZW, color tables, de-interlace), then aHashed
    # against the SAME arithmetic oracle as the PPM/PNG queries - one
    # wrong bit anywhere in the LZW lockstep flips the hash.
    docs = load(spark, sf, "documents")
    media = M.synth_gif_media(docs, side=8)
    return M.image_ahash(media)


_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "search_bm25_topk",
    f"""
    WITH dl AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  AS BIGINT) AS dl
      FROM documents WHERE trim(text) <> ''
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ('spark', 'merge', 'window')
      GROUP BY doc_id, token
    ),
    dfreq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    terms0 AS (
      SELECT tf.doc_id, tf.tf, dfreq.df, dl.dl, s.n, s.avgdl,
             1 + (CAST(s.n AS DOUBLE) - df + 0.5) / (df + 0.5) AS x
      FROM tf
      JOIN dfreq USING (token)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),{PM.portable_ln_ctes("terms0", "x", "idf")},
    terms AS (
      SELECT doc_id,
             ROUND(
               idf
               * ((tf * ({_BM25_K1} + 1)) /
                  (tf + {_BM25_K1}
                        * (1 - {_BM25_B}
                           + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl)))),
               6) AS term
      FROM pln_out
    ),
    scored AS (
      SELECT doc_id,
             ROUND(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS score
      FROM terms GROUP BY doc_id
    )
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS rank
    FROM scored
    QUALIFY rank <= 20
    """,
)
def q_search_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    # REAL BM25 (k1=1.2, b=0.75, Lucene-positive idf) - the lexical
    # retrieval baseline every search user expects, made oracle-exact
    # by the repo's float disciplines: per-(doc, token) terms are
    # built from IDENTICAL double expression trees on both engines —
    # including the transcendental: idf goes through portable_ln
    # (portable_math.py), the SAME explicit IEEE +,-,*,/ tree on both
    # engines, so no libm rounding divergence can flip a ROUND-6
    # boundary (r6 advice item) — then ROUNDed BEFORE the order-free
    # DECIMAL sum (a raw double SUM would hang on reduction order -
    # the maxsim rule). One token shuffle; df and the scalar
    # (N, avgdl) broadcast; ranking on the rounded score with doc_id
    # tiebreak; top-20 is dimension-sized.
    from pyspark.sql import Window

    k1, b = _BM25_K1, _BM25_B
    docs = load(spark, sf, "documents").filter(F.trim("text") != "")
    dl = docs.select(
        "doc_id", F.size(T.tokens(F.trim(F.lower(F.col("text"))))).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    toks = docs.select(
        "doc_id",
        F.explode(T.tokens(F.trim(F.lower(F.col("text"))))).alias("token"),
    ).filter(F.col("token").isin("spark", "merge", "window"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    terms0 = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "x",
            F.lit(1)
            + (F.col("n").cast("double") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5)),
        )
    )
    terms = PM.with_portable_ln(terms0, "x", "idf").select(
        "doc_id",
        F.round(
            F.col("idf")
            * (
                (F.col("tf") * F.lit(k1 + 1))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1 - b)
                        + F.lit(b)
                        * (F.col("dl").cast("double") / F.col("avgdl"))
                    )
                )
            ),
            6,
        ).alias("term"),
    )
    scored = terms.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("term").cast("decimal(18,6)")).cast("double"), 6
        ).alias("score")
    )
    top = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    return top.select(
        "doc_id",
        "score",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("int")
        .alias("rank"),
    )


@query("multimodal_avi_shots", O.video_shots_oracle())
def q_multimodal_avi_shots(spark: SparkSession, sf: str) -> DataFrame:
    # RAW VIDEO made real: the same scene-correlated frame planes as
    # multimodal_video_shots, containered as a raw-video AVI (RIFF
    # walk, bottom-up BGR DIB frames, 4-byte stride padding - what
    # `ffmpeg -c:v rawvideo` emits) and decoded by the zero-dependency
    # AVI reader; the shot-boundary oracle is shared verbatim, so a
    # single wrong byte in the container roundtrip flips a hash and a
    # boundary. Codec video (H.264-class) remains the documented
    # plug-in point - what moved is that the CONTAINER tier no longer
    # needs one.
    docs = load(spark, sf, "documents")
    media = M.synth_avi_video(docs)
    return M.video_shot_boundaries(media)


@query(
    "text_bigram_surprisal",
    rf"""
    WITH tok AS (
      SELECT doc_id, token, tpos
      FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS token,
               generate_subscripts(
                 regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS tpos
        FROM documents WHERE trim(text) <> ''
      )
    ),
    bg AS (
      SELECT doc_id, token AS w1,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY tpos) AS w2
      FROM tok
    ),
    bg2 AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
      FROM bg2 GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1
    ),
    vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tok),
    terms0 AS (
      SELECT bg2.doc_id,
             (CAST(c1.n1 AS DOUBLE) + v.v) / (CAST(c12.n12 AS DOUBLE) + 1)
               AS x
      FROM bg2
      JOIN c12 USING (w1, w2)
      JOIN c1 USING (w1)
      CROSS JOIN vocab v
    ),{PM.portable_ln_ctes("terms0", "x", "lnq")},
    terms AS (SELECT doc_id, ROUND(lnq, 6) AS term FROM pln_out),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS s
      FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           s / n_bigrams AS avg_surprisal
    FROM agg
    """,
)
def q_text_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    # Statistical LM quality scoring (the KenLM-shaped filter every
    # curation pipeline runs): corpus-trained add-one-smoothed bigram
    # model, per-doc average surprisal -ln p(w2|w1) = ln((c1+V)/
    # (c12+1)) - low = fluent/boilerplate, high = noise. The
    # transcendental goes through portable_ln (argument q >= 1 by
    # construction, so ln p = -portable_ln(1/p)), making a REAL
    # log-probability hash-exact across engines: identical double
    # division of exact counts, bit-identical ln, ROUND-then-DECIMAL
    # ordered-free sum, one final identical division. Two count
    # shuffles + broadcast joins back; at 100 TB the bigram count
    # table is the only corpus-sized state and it map-side combines.
    from pyspark.sql import Window

    docs = load(spark, sf, "documents").filter(F.trim("text") != "")
    tok = docs.select(
        "doc_id",
        F.posexplode(T.tokens(F.trim(F.lower(F.col("text"))))).alias(
            "tpos", "token"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("tpos")
    bg = tok.select(
        "doc_id",
        F.col("token").alias("w1"),
        F.lead("token").over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    vocab = tok.agg(
        F.countDistinct("token").cast("long").alias("v")
    )
    terms0 = (
        bg.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "x",
            (F.col("n1").cast("double") + F.col("v"))
            / (F.col("n12").cast("double") + F.lit(1)),
        )
    )
    terms = PM.with_portable_ln(terms0, "x", "lnq").select(
        "doc_id", F.round(F.col("lnq"), 6).alias("term")
    )
    # the decimal sum is exact and n is an integer, so the single
    # double division is already bit-identical across engines; a
    # final ROUND would be the one UNSAFE step (s/n can land
    # arbitrarily close to a half-boundary, where Spark's BigDecimal
    # HALF_UP and DuckDB's rounding of the same double diverge —
    # observed at the r14 sf0.1 full-registry gate)
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (
            F.sum(F.col("term").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_surprisal"),
    )


@query(
    "text_html_extract",
    """
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':html') AS x
      FROM documents
    )
    SELECT doc_id,
           'w' || substring(x, 1, 2) || ' w' || substring(x, 3, 2)
             || ' & w' || substring(x, 5, 2) || ' w' || substring(x, 7, 2)
             || ' w' || substring(x, 9, 2) || ' w' || substring(x, 11, 2)
             || ' <w' || substring(x, 13, 2) || '> w' || substring(x, 15, 2)
             AS extracted,
           CAST(9 AS INT) AS n_tokens
    FROM h
    """,
)
def q_text_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    # HTML -> visible text, the WET stage between a WARC response body
    # and the text pipeline: per doc a deterministic tag-soup page
    # (head/title/script subtrees to DROP, nested inline elements,
    # &amp;/&lt;/&gt; character references to DECODE) whose visible
    # words are md5 hex pairs; operators.text.html_text must produce
    # exactly the planted visible string - the oracle CONSTRUCTS the
    # expected extraction from the same md5 arithmetic, so a skipped
    # subtree leaking, a missed entity, or a whitespace-join bug flips
    # the hash. One Arrow pass, no shuffle.
    docs = load(spark, sf, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":html")))

    def hp(j: int):
        return F.substring(h, 2 * j - 1, 2)

    html = F.concat(
        F.lit(
            "<html><head><title>skip me</title><script>var x=1;"
            "</script></head><body><h1>w"
        ),
        hp(1),
        F.lit("</h1><p>w"), hp(2), F.lit(" &amp; w"), hp(3),
        F.lit("</p><div>w"), hp(4), F.lit("<span>w"), hp(5),
        F.lit("</span></div><p>w"), hp(6), F.lit(" &lt;w"), hp(7),
        F.lit("&gt; w"), hp(8), F.lit("</p></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return pages.select(
        "doc_id",
        T.html_text("html").alias("extracted"),
    ).withColumn("n_tokens", F.size(T.tokens(F.col("extracted"))).cast("int"))


@query(
    "source_warc_http",
    """
    WITH bodysum AS (
      SELECT doc_id,
             CAST(SUM(CAST(('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':warc:' || h.k),
               j.j * 2 + 1, 2)) AS BIGINT)) AS BIGINT) AS bsum
      FROM documents,
           (VALUES (0), (1)) h(k),
           (SELECT unnest(range(16)) AS j) j
      GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(0 AS INT) AS rec_idx,
           'response' AS warc_type,
           'https://example.com/doc/' || CAST(d.doc_id AS VARCHAR)
             AS target_uri,
           CASE WHEN d.doc_id % 5 = 4 THEN NULL
                ELSE CAST(200 AS INT) END AS http_status,
           CAST(CASE d.doc_id % 5 WHEN 0 THEN 77 WHEN 1 THEN 122
                WHEN 2 THEN 124 WHEN 3 THEN 163 ELSE 93 END
                AS BIGINT) AS n_payload,
           CASE WHEN d.doc_id % 5 = 4 THEN NULL
                ELSE b.bsum END AS body_sum
    FROM documents d JOIN bodysum b USING (doc_id)
    UNION ALL
    SELECT doc_id, CAST(1 AS INT), 'metadata',
           'https://example.com/doc/' || CAST(doc_id AS VARCHAR),
           CAST(NULL AS INT),
           CAST(13 + len(CAST(doc_id % 1000 AS VARCHAR)) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM documents
    """,
)
def q_source_warc_http(spark: SparkSession, sf: str) -> DataFrame:
    # NATIVE WARC (ISO 28500) - the Common Crawl container, i.e. the
    # actual on-disk input of a web-scale training pipeline: each doc
    # synthesizes a 2-record WARC (an HTTP response whose body is a
    # 32-byte md5 chain, plus a warc-fields metadata record), each
    # record its OWN GZIP MEMBER (the Common Crawl layout), then the
    # zero-dependency reader walks members -> records -> HTTP
    # status/body split. Responses are stored AS CAPTURED (r10): the
    # transfer/content coding rotates by doc_id%5 - identity /
    # chunked / gzip / gzip-then-chunked / a TRUNCATED-chunk capture
    # that must refuse to (status NULL, body_sum NULL). The gzip arms
    # compress at level 0 (stored blocks), so every arm's WARC
    # Content-Length is a closed-form constant the oracle replays
    # (77/122/124/163/93); body_sum comes from md5 hex pairs - one
    # wrong byte in the gzip-member walk, header parse,
    # Content-Length slice, de-chunk, or inflate shifts a sum or a
    # length. File->record explode is one Arrow pass.
    import hashlib

    from hadoopxmlextractor_spark.sources import warc as W

    docs = load(spark, sf, "documents")

    @F.pandas_udf("binary")
    def _warc(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ids in it:
            out = []
            for i in ids:
                body = (
                    hashlib.md5(f"{i}:warc:0".encode()).digest()
                    + hashlib.md5(f"{i}:warc:1".encode()).digest()
                )
                base = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                r = int(i) % 5
                if r == 0:
                    http = base + b"\r\n" + body
                elif r == 1:
                    http = (
                        base + b"Transfer-Encoding: chunked\r\n\r\n"
                        + b"10\r\n" + body[:16] + b"\r\n"
                        + b"10\r\n" + body[16:] + b"\r\n0\r\n\r\n"
                    )
                elif r in (2, 3):
                    c = zlib.compressobj(0, zlib.DEFLATED, 31)
                    enc = c.compress(body) + c.flush()  # 55B stored gzip
                    if r == 2:
                        http = (
                            base + b"Content-Encoding: gzip\r\n\r\n" + enc
                        )
                    else:
                        http = (
                            base + b"Content-Encoding: gzip\r\n"
                            b"Transfer-Encoding: chunked\r\n\r\n"
                            + (b"%x\r\n" % len(enc)) + enc + b"\r\n0\r\n\r\n"
                        )
                else:  # truncated chunk: 0x20 declared, 16 delivered
                    http = (
                        base + b"Transfer-Encoding: chunked\r\n\r\n"
                        + b"20\r\n" + body[:16]
                    )
                recs = [
                    {
                        "warc_type": "response",
                        "record_id": f"<urn:uuid:{i}-0>",
                        "target_uri": f"https://example.com/doc/{i}",
                        "content_type": "application/http; msgtype=response",
                        "payload": http,
                    },
                    {
                        "warc_type": "metadata",
                        "record_id": f"<urn:uuid:{i}-1>",
                        "target_uri": f"https://example.com/doc/{i}",
                        "content_type": "application/warc-fields",
                        "payload": f"fetchTimeMs: {i % 1000}".encode(),
                    },
                ]
                out.append(W.write_warc(recs, gzip_members=True))
            yield pd.Series(out)

    files = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        _warc("doc_id").alias("content"),
    )
    recs = W.warc_records(files)

    @F.pandas_udf("struct<http_status:int, body_sum:bigint>")
    def _http(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for payloads in it:
            stat, bsum = [], []
            for p in payloads:
                if p is None:
                    stat.append(None)
                    bsum.append(None)
                    continue
                s, body = W.split_http_payload(bytes(p))
                stat.append(s)
                bsum.append(int(sum(body)) if s is not None else None)
            yield pd.DataFrame({"http_status": stat, "body_sum": bsum})

    return recs.withColumn("h", _http("payload")).select(
        F.col("path").cast("bigint").alias("doc_id"),
        "rec_idx",
        "warc_type",
        "target_uri",
        F.col("h.http_status").alias("http_status"),
        F.col("content_length").alias("n_payload"),
        F.col("h.body_sum").alias("body_sum"),
    )


@query("multimodal_audio_g711", O.audio_g711_oracle())
def q_multimodal_audio_g711(spark: SparkSession, sf: str) -> DataFrame:
    # Telephony-band audio (G.711 mu-law/A-law, WAV format codes 7/6 -
    # common in crawled speech corpora) through the same VAD energy
    # operator as 16-bit PCM: _decode_wav walks the RIFF chunks itself
    # (stdlib wave refuses non-PCM) and expands codes via the CCITT
    # companding tables; the oracle re-derives the expansion as SQL
    # bit arithmetic, so table and container are proven independently.
    # Threshold = measured median window energy (non-vacuous ~50/50).
    docs = load(spark, sf, "documents")
    media = M.synth_g711_wav_media(docs)
    return M.audio_energy_windows(media, silence_threshold=6_500_000_000)


@query("multimodal_audio_adpcm", O.audio_adpcm_oracle())
def q_multimodal_audio_adpcm(spark: SparkSession, sf: str) -> DataFrame:
    # The first COMPRESSED audio codec with an exact oracle: mono IMA
    # ADPCM (WAV format 17, the classic 4-bit voice codec) decoded by
    # the sequential predictor/step-index state machine, then the same
    # VAD energy operator. The oracle re-derives the ENTIRE state
    # machine as a recursive CTE (step table literal, vpdiff bit
    # tests, int16 clamp, index walk) - one wrong clamp or nibble
    # order anywhere desynchronizes every later sample. Threshold at
    # the measured median window energy (non-vacuous split).
    docs = load(spark, sf, "documents")
    media = M.synth_adpcm_wav_media(docs)
    return M.audio_energy_windows(media, silence_threshold=43_000_000_000)


@query("multimodal_mjpeg_shots", O.mjpeg_shots_oracle())
def q_multimodal_mjpeg_shots(spark: SparkSession, sf: str) -> DataFrame:
    # CODEC VIDEO unblocked with zero new dependencies: Motion-JPEG
    # AVI = the RIFF walker composed with the native baseline JPEG
    # decoder (every '00dc' chunk a standalone JPEG, the ffmpeg MJPG
    # layout). Frames are grids of FLAT 8x8 blocks, so even though
    # every frame runs real lossy compression the decoded plane is
    # exactly computable (the jpeg_blocks DC-quantizer identity) and
    # the shot-boundary output stays hash-exact vs DuckDB. One Arrow
    # decode pass; the only shuffle is the per-video frame window.
    docs = load(spark, sf, "documents")
    media = M.synth_mjpeg_video(docs)
    return M.video_shot_boundaries(media)


@query("multimodal_bmp_ahash", O.image_ahash_oracle(side=8))
def q_multimodal_bmp_ahash(spark: SparkSession, sf: str) -> DataFrame:
    # BMP completes the natively-decoded image-container tier
    # (PPM/PNG/GIF/BMP, plus baseline AND progressive JPEG via
    # operators/jpeg.py — only arithmetic/lossless/12-bit JPEG remains
    # the PIL plug-in): the
    # md5 pixel
    # plane through the 24-bit BI_RGB encoder (bottom-up BGR DIB rows,
    # 4-byte stride) and back, aHashed against the shared arithmetic
    # oracle - row flip, channel swap, and padding must all roundtrip
    # losslessly or the hash flips.
    docs = load(spark, sf, "documents")
    media = M.synth_bmp_media(docs, side=8)
    return M.image_ahash(media)


@query(
    "multimodal_jpeg_progressive",
    """
    WITH bytes4 AS (
      SELECT doc_id AS media_id, b.block_idx,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':jpgp'),
                                     1 + 2 * b.block_idx, 2)) AS BIGINT) AS v
      FROM documents
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS block_idx) b
    )
    SELECT media_id, CAST(block_idx AS INT) AS block_idx,
           CAST(LEAST(255, GREATEST(0,
             ROUND(3 * ROUND(8.0 * (v - 128) / 3) / 8.0 + 128)))
             AS INT) AS val
    FROM bytes4
    """,
)
def q_multimodal_jpeg_progressive(spark: SparkSession, sf: str) -> DataFrame:
    # PROGRESSIVE JPEG (SOF2) decoded natively (r6 verdict item 3):
    # the same flat-block DC-quantizer identity as multimodal_jpeg_
    # blocks, but the container is a 5-scan progressive stream - DC
    # first at Al=1, two AC spectral bands, then the DC refinement
    # scan - so spectral selection, successive approximation, scan
    # sequencing, and per-scan entropy segmentation ALL sit on the
    # exact-oracle path. Progressive JPEG leaves the PIL plug-in list;
    # only arithmetic/lossless/12-bit remain refused.
    docs = load(spark, sf, "documents")
    media = M.synth_jpeg_blocks_media(docs, progressive=True, salt="jpgp")
    return M.jpeg_block_values(media)


@query(
    "multimodal_jpeg_blocks",
    """
    WITH bytes4 AS (
      SELECT doc_id AS media_id, b.block_idx,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':jpg'),
                                     1 + 2 * b.block_idx, 2)) AS BIGINT) AS v
      FROM documents
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS block_idx) b
    )
    SELECT media_id, CAST(block_idx AS INT) AS block_idx,
           CAST(LEAST(255, GREATEST(0,
             ROUND(3 * ROUND(8.0 * (v - 128) / 3) / 8.0 + 128)))
             AS INT) AS val
    FROM bytes4
    """,
)
def q_multimodal_jpeg_blocks(spark: SparkSession, sf: str) -> DataFrame:
    # BASELINE JPEG made real without PIL, with an EXACT oracle for a
    # LOSSY codec: four flat 8x8 blocks per doc run the full encode ->
    # decode chain (markers, canonical huffman, cross-block DC
    # prediction, entropy coding + bit stuffing, dequant, IDCT); flat
    # blocks collapse the loss to the DC quantizer, so the decoded
    # value is clip(round(3*round(8(v-128)/3)/8 + 128)) exactly - and
    # Q=3 provably never parks either rounding on a half-boundary
    # (8c/3 = k+1/2 needs 16c = 6k+3, odd=even; 3k/8 = m+1/2 needs
    # k === 4 mod 8, but k = round(8c/3) cycles {0,3,5} mod 8), so
    # numpy banker's rounding and SQL half-away rounding agree on
    # every input. The oracle is that arithmetic verbatim.
    docs = load(spark, sf, "documents")
    media = M.synth_jpeg_blocks_media(docs, quality=90)
    return M.jpeg_block_values(media)
