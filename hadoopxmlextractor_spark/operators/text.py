"""Text-analysis operators for LLM training-data pipelines.

Scalar stats (counts, ratios, language ID) are JVM-side ``pyspark.sql.
functions`` expressions (whole-stage codegen, no Python round-trips):
at 100 TB these run at scan speed with zero shuffles. Array-building
kernels (winnowing fingerprints) are Arrow-batched numpy pandas UDFs —
JVM higher-order functions are interpreted and re-evaluate shared
subexpressions per lambda call, so an O(tokens × window) expression
chain is far slower than one vectorized batch. Every operator here is
a pure per-row projection.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash64(s: str) -> int:
    """Deterministic 64-bit string hash (md5 prefix) — stable across
    executors and sessions, unlike the salted builtin ``hash``."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little", signed=True)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: splits on word/number/punctuation
    boundaries (a regex approximation of BPE pre-tokenization)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(r"([A-Za-z]+|[0-9]+|[^\sA-Za-z0-9])"), 1)
    return F.size(pieces)


def _occurrences(c: Column, marker: str) -> Column:
    # Exact integer occurrence count via length difference — identical
    # arithmetic is expressible in ANSI SQL for the oracle.
    return (F.length(c) - F.length(F.replace(c, F.lit(marker), F.lit("")))) / len(marker)


_LANG_MARKERS = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " les "),
}


def language_id(col: Column | str) -> Column:
    """N-gram-heuristic language ID: counts language-marker stopwords and
    returns the argmax language, or 'unknown' when no marker occurs.
    Deterministic tie-break by language order (en, de, fr)."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    scores = {
        lang: sum((_occurrences(padded, m) for m in marks[1:]),
                  _occurrences(padded, marks[0]))
        for lang, marks in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("unknown")
    for lang in reversed(list(_LANG_MARKERS)):  # earlier langs win ties
        out = F.when((scores[lang] > 0) & (scores[lang] == best), lang).otherwise(out)
    return out


def language_marker_scores(col: Column | str) -> dict[str, Column]:
    """The :func:`language_id` internals surfaced as exact INTEGER
    marker counts per language — the inputs a confidence/margin
    report needs. Each score is a sum of exact occurrence counts
    (length-difference arithmetic, replayable in ANSI SQL), cast to
    long."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    return {
        lang: sum(
            (_occurrences(padded, m) for m in marks[1:]),
            _occurrences(padded, marks[0]),
        ).cast("long")
        for lang, marks in _LANG_MARKERS.items()
    }


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword quality signals (the standard
    cheap pre-filters for web-scale corpus cleaning)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    n_stop = sum(
        (_occurrences(padded, f" {w} ") for w in ("the", "and", "of", "a", "to", "in")),
        F.lit(0),
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
        "stopword_ratio": F.round(n_stop / F.greatest(n_tokens.cast("double"), F.lit(1.0)), 4),
        "mean_token_len": F.round(
            (n_chars - n_tokens + 1) / F.greatest(n_tokens.cast("double"), F.lit(1.0)), 4
        ),
    }


def fingerprint(col: Column | str) -> Column:
    """Exact document fingerprint: md5 of the whitespace-normalized,
    lower-cased text (stable across engines for oracle checks)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.array_join(tokens(F.lower(c)), " ")
    return F.md5(normalized)


def winnowing_fingerprints(col: Column | str, k: int = 5, window: int = 4) -> Column:
    """Winnowing (rolling-hash) fingerprints: hash all k-grams of tokens,
    then keep the minimum hash of every sliding window of ``window``
    k-gram hashes (distinct). The classic local-fingerprint scheme for
    partial-overlap detection. One Arrow-batched numpy pandas UDF:
    k-gram hashing plus a vectorized sliding-window minimum per
    document; docs with fewer than ``k`` tokens yield no fingerprints."""
    import numpy as np

    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("array<long>")
    def _fp(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                toks = t.split()
                n_kgrams = len(toks) - (k - 1)
                if n_kgrams <= 0:
                    out.append([])
                    continue
                hs = np.fromiter(
                    (hash64(" ".join(toks[i : i + k])) for i in range(n_kgrams)),
                    dtype=np.int64,
                    count=n_kgrams,
                )
                if len(hs) < window:
                    out.append([int(hs.min())])
                else:
                    sw = np.lib.stride_tricks.sliding_window_view(hs, window)
                    out.append(np.unique(sw.min(axis=1)).tolist())
            yield pd.Series(out)

    return _fp(c)


def repetition_counts(col: Column | str) -> Column:
    """Gopher-style repetition statistics (Rae et al. 2021, "Scaling
    Language Models", §A1.1 repetition filters) adapted to token level
    — the synthetic corpus has no line structure. Returns a struct of
    exact counts (``n_tokens``, ``n_distinct``, ``top_token_cnt``,
    ``top_bigram_cnt``); ratio-building and rounding stay JVM-side so
    the query layer controls the float representation the oracle hash
    sees.

    ONE Arrow-batched pandas UDF, zero shuffles: the JVM-expression
    alternative (posexplode → two groupBys → window lead → two more
    groupBys) pushes the 10×-inflated token stream through three
    doc-keyed exchanges, while this kernel computes every count in a
    single pass per batch at scan bandwidth — the same trade
    documented on :func:`~hadoopxmlextractor_spark.operators.dedup.
    shingle_hashes`."""
    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf(
        "struct<n_tokens:long,n_distinct:long,top_token_cnt:long,top_bigram_cnt:long>"
    )
    def _rep(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        for texts in it:
            rows = []
            for t in texts:
                toks = (t or "").split()
                tc = Counter(toks)
                bc = Counter(zip(toks, toks[1:]))
                rows.append(
                    (
                        len(toks),
                        len(tc),
                        max(tc.values()) if tc else 0,
                        max(bc.values()) if bc else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["n_tokens", "n_distinct", "top_token_cnt", "top_bigram_cnt"],
            )

    return _rep(c)


# (pattern name, regex) — order matters: more specific patterns first so
# e.g. an SSN is not half-eaten by the phone pattern.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+?\b\d[\d .-]{7,14}\d\b"),
]


def redact_pii(col: Column | str, *, replacement: str = "[PII]") -> Column:
    """Scrub common PII shapes (emails, SSN-style ids, IPv4 addresses,
    phone-number-like digit runs) with chained ``regexp_replace`` —
    pure JVM expressions in one codegen stage, zero shuffle, scan
    bandwidth at any scale. The standard compliance pass a training
    corpus runs before tokenization; swap/extend ``PII_PATTERNS`` per
    policy."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, replacement)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-pattern match counts for redaction auditing (same patterns
    as :func:`redact_pii`); counted on the ORIGINAL text, so chained
    replacements never mask each other's tally."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{name}": F.regexp_count(c, F.lit(pat)) for name, pat in PII_PATTERNS
    }


def _mg_fold(summary: "pd.Series", counts: "pd.Series", capacity: int) -> "pd.Series":
    """Fold one batch's exact counts into a Misra-Gries summary of at
    most ``capacity`` counters (mergeable-summaries rule: add, then
    subtract the (capacity+1)-th largest count from all and drop the
    non-positive). Invariant: total subtracted mass ≤ N/(capacity+1)
    over any fold sequence, so an item absent from the summary has true
    count ≤ N/(capacity+1). Pure pandas — property-tested directly."""
    summary = summary.add(counts, fill_value=0)
    if len(summary) > capacity:
        # Subtract (not just threshold): the N/(capacity+1) bound needs
        # each eviction to SPEND (capacity+1)·kth of counted mass,
        # which uniform subtraction does.
        kth = summary.nlargest(capacity + 1).iloc[-1]
        summary = summary - kth
        summary = summary[summary > 0]
    return summary


def _ngram_counts(texts: "pd.Series", n: int) -> "pd.Series":
    """Exact n-gram counts of one Arrow batch (lower-cased whitespace
    tokens, space-joined n-grams) as a pandas value_counts Series."""
    from collections import Counter

    c: Counter = Counter()
    for t in texts:
        toks = (t or "").lower().split()
        for i in range(len(toks) - n + 1):
            c[" ".join(toks[i : i + n])] += 1
    return pd.Series(c, dtype="int64")


def heavy_hitters(
    docs: DataFrame,
    text_col: str,
    *,
    min_count: int,
    n: int = 2,
    capacity: int = 16384,
) -> DataFrame:
    """Exact corpus-wide heavy hitters — every n-gram with total count
    ≥ ``min_count`` — via a distributed Misra-Gries candidate sketch
    plus an exact recount of the candidates only.

    Why not a plain groupBy+HAVING: for web-scale n-gram vocabularies
    the map-side combine hash map is unbounded (distinct n-grams per
    partition can approach the partition's token count) and the shuffle
    carries every distinct n-gram of every partition. Here each task
    keeps a summary of at most ``capacity`` counters (Misra-Gries
    merge: fold each batch's exact counts into the summary; when it
    overflows, subtract the (capacity+1)-th largest count from all and
    drop the non-positive — Agarwal et al., "Mergeable Summaries",
    PODS'12) and the recount shuffle carries candidate n-grams only:
    O(capacity × partitions) rows regardless of vocabulary size.

    EXACTNESS GUARANTEE: per-partition subtractions total at most
    N_p/(capacity+1), so an n-gram absent from every summary has total
    count ≤ N/(capacity+1). The operator computes N in the same pass
    and RAISES if ``min_count <= N/(capacity+1)`` — the guarantee, not
    a best effort, is the contract (raise ⇒ raise ``capacity``). The
    final counts come from the exact recount, so survivors carry true
    counts, never sketch estimates.

    Returns (ngram, cnt) with cnt ≥ min_count — exactly the rows of
    the naive GROUP BY ... HAVING, which serves as the SQL oracle.
    """
    n_lit = n

    def mg_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            counts = _ngram_counts(pdf[text_col], n_lit)
            total += int(counts.sum())
            summary = _mg_fold(summary, counts, capacity)
        yield pd.DataFrame(
            {
                "ngram": list(summary.index.astype(str)) + [""],
                "partition_total": [0] * len(summary) + [total],
            }
        )

    def exact_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts = _ngram_counts(pdf[text_col], n_lit)
            yield pd.DataFrame(
                {"ngram": counts.index.astype(str), "partial": counts.values}
            )

    src = docs.select(text_col)
    cands = src.mapInPandas(
        mg_candidates, "ngram string, partition_total long"
    ).persist()
    # Dimension-sized action: one totals row per partition. Validates
    # the sketch guarantee BEFORE any result is produced.
    total_ngrams = sum(
        r["partition_total"]
        for r in cands.filter(F.col("partition_total") > 0).collect()
    )
    if min_count <= total_ngrams / (capacity + 1):
        cands.unpersist()
        raise ValueError(
            f"heavy_hitters guarantee violated: min_count={min_count} <= "
            f"N/(capacity+1) = {total_ngrams}/{capacity + 1}; raise capacity"
        )
    cand_set = cands.filter(F.col("partition_total") == 0).select("ngram").distinct()
    return (
        src.mapInPandas(exact_partials, "ngram string, partial long")
        .join(F.broadcast(cand_set), "ngram")
        .groupBy("ngram")
        .agg(F.sum("partial").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def hashed_features(
    docs: DataFrame, text_col: str, id_col: str, *, dim: int = 64
) -> DataFrame:
    """Hashing-trick document vectors (Weinberger et al. 2009, "Feature
    Hashing for Large Scale Multitask Learning"): each token hashes to
    a dimension index (first 4 md5 bytes mod ``dim``) and an
    independent sign (5th md5 byte parity); the document vector is the
    signed count sum per dimension, emitted as sparse
    (id, dim_idx, value) rows. The deterministic md5 basis means
    re-runs, incremental loads, and other engines produce bit-identical
    vectors — no fitted state, no vocabulary to ship.

    Scale: explode → one groupBy on (id, dim_idx) with map-side
    partial aggregation; keys are doc-bounded and uniform (at most
    ``dim`` rows per document survive the combine), so the shuffle
    carries O(docs × dim) rows regardless of token counts. Output
    feeds the cosine similarity / LSH operators as a cheap text-side
    embedding."""
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    h = F.md5(F.col("token"))
    idx = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim
    ).cast("int")
    sign = (
        F.lit(1) - F.lit(2) * (F.conv(F.substring(h, 9, 2), 16, 10).cast("long") % 2)
    ).cast("long")
    return (
        toks.select(F.col(id_col), idx.alias("dim_idx"), sign.alias("sign"))
        .groupBy(id_col, "dim_idx")
        .agg(F.sum("sign").cast("long").alias("value"))
    )


def classifier_margin(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
    modulus: int = 2001,
    offset: int = 1000,
) -> DataFrame:
    """Linear quality-classifier scoring (the fastText-shaped filter
    stage of CCNet / GPT-3-style corpus pipelines): score every
    document with a linear model over :func:`hashed_features` vectors
    and keep the non-negative-margin side.

    The weight table stands in for a trained model's coefficients; it
    is derived deterministically from md5 of the dimension index
    (integers in [-offset, modulus-1-offset]) so the whole scoring
    pass — features, weights, dot product — is bigint-exact and
    engine-replayable. In production the same plan ships fitted
    weights: a ``dim``-row table broadcast-joined onto the sparse
    feature stream, which is the point — the MODEL rides a broadcast,
    the corpus never shuffles for it.

    Scale: hashed_features' one uniform-key shuffle + a broadcast join
    (weights are O(dim) rows) + one doc-keyed sum, then a left join
    back onto documents so featureless (empty) docs still get a
    margin-0 verdict. Margins are bigint sums of
    count x weight — ANSI mode errors on overflow rather than wrapping.
    """
    feats = hashed_features(docs, text_col, id_col, dim=dim)
    spark = docs.sparkSession
    weights = spark.range(dim).select(
        F.col("id").cast("int").alias("dim_idx"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
            % modulus
            - offset
        ).alias("w"),
    )
    margins = (
        feats.join(F.broadcast(weights), "dim_idx")
        .groupBy(id_col)
        .agg(F.sum(F.col("value") * F.col("w")).cast("long").alias("margin"))
    )
    return (
        docs.select(id_col)
        .join(margins, id_col, "left")
        .select(
            id_col,
            F.coalesce("margin", F.lit(0)).cast("bigint").alias("margin"),
            (F.coalesce("margin", F.lit(0)) >= 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed quality-classifier TRAINING (full-batch perceptron)
# ---------------------------------------------------------------------------


def perceptron_train(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
    rounds: int = 4,
    min_words: int = 20,
):
    """Distributed FULL-BATCH perceptron training of a hashed-feature
    linear quality classifier — the TRAINING half that
    :func:`classifier_margin` (scoring against a fixed weight table)
    deliberately leaves out. Weak labels distill a cheap heuristic
    (``y = +1`` iff the doc has ≥ ``min_words`` whitespace tokens)
    into a model over md5-hashed token features — the fastText-quality
    pattern of training on rule-derived labels.

    Full-batch (not SGD) because the batch gradient is a SUM —
    order-independent, partitioning-independent, and pure int64, so an
    iterative distributed TRAINING loop stays hash-exact across
    engines. Per round: one broadcast of the dim-row weight table, one
    doc-keyed aggregation for margins (misclassified set stays
    distributed), one dim-keyed aggregation for the gradient — and
    only ``dim`` rows ever reach the driver, independent of corpus
    size. The (features ⋈ labels) table persists once (eager count)
    and is rescanned per round.

    Returns ``(weights, X)``: the final per-dimension int weights and
    the persisted training table for downstream scoring. The cache on
    ``X`` is INTENTIONALLY left live — it is part of the return value
    (callers score with it immediately); a caller that is done with it
    owns the ``X.unpersist()``.
    """
    spark = docs.sparkSession
    feats = hashed_features(docs, text_col, id_col, dim=dim)
    labels = docs.select(
        F.col(id_col),
        F.when(token_count(F.col(text_col)) >= min_words, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    X = feats.join(labels, id_col).persist()
    X.count()

    w = [0] * dim
    for _ in range(rounds):
        wdf = spark.createDataFrame(
            [(j, w[j]) for j in range(dim)], "dim_idx int, w long"
        )
        mis = (
            X.join(F.broadcast(wdf), "dim_idx")
            .groupBy(id_col)
            .agg(
                F.sum(F.col("value") * F.col("w")).alias("margin"),
                F.first("y").alias("my"),
            )
            .filter(F.col("my") * F.col("margin") <= 0)
            .select(id_col, "my")
        )
        grad = (
            X.drop("y")
            .join(mis, id_col)
            .groupBy("dim_idx")
            .agg(F.sum(F.col("my") * F.col("value")).alias("g"))
            .collect()
        )
        for r in grad:
            w[r["dim_idx"]] += r["g"]
    return w, X


def perceptron_predictions(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
    rounds: int = 4,
    min_words: int = 20,
) -> DataFrame:
    """Score every (featured) doc with the trained perceptron: margin,
    ±1 prediction (0 margin → −1, matching the training rule's
    "misclassified at 0"), weak label, and agreement flag."""
    spark = docs.sparkSession
    w, X = perceptron_train(
        docs, text_col, id_col, dim=dim, rounds=rounds, min_words=min_words
    )
    wdf = spark.createDataFrame(
        [(j, int(w[j])) for j in range(dim)], "dim_idx int, w long"
    )
    out = (
        X.join(F.broadcast(wdf), "dim_idx")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("value") * F.col("w")).alias("margin"),
            F.first("y").alias("y"),
        )
        .select(
            id_col,
            F.col("margin").cast("bigint").alias("margin"),
            F.col("y").cast("int").alias("label"),
            F.when(F.col("margin") > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("pred"),
            (
                F.when(F.col("margin") > 0, F.lit(1)).otherwise(F.lit(-1))
                == F.col("y")
            ).alias("correct"),
        )
        # cache release: one scored row per doc vs doc×dim training
        # rows — materialize and free X.
        .localCheckpoint(eager=True)
    )
    X.unpersist()
    return out


# ---------------------------------------------------------------------------
# Single-pass regression sufficient statistics (Gram matrix)
# ---------------------------------------------------------------------------


def regression_suffstats(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
) -> DataFrame:
    """Sufficient statistics for ridge/least-squares regression of the
    doc's token count on its hashed features, in ONE distributed pass:
    the upper-triangle Gram matrix ``G[j,k] = Σ_docs x_j·x_k`` plus
    the moment vector ``b[j] = Σ_docs x_j·y`` — after which fitting is
    a dim×dim solve on the driver, independent of corpus size. This is
    the classic scale pattern for linear models: never iterate over
    the data, reduce it to O(dim²) exact integers once.

    Shape: a doc-keyed self-join of the sparse feature rows expands to
    at most nnz² ≤ dim² pairs per doc, then ONE uniform-key (j, k)
    aggregation with map-side combine collapses everything to
    dim·(dim+1)/2 + dim rows — at 100 TB with dim=4096 that is ~8M
    small rows total, regardless of corpus size. All values are int64
    sums of int products: hash-exact across engines.

    Output rows: ``kind='gram'`` with (j ≤ k, value = G[j,k]) and
    ``kind='xty'`` with (j, k = -1, value = b[j]).
    """
    feats = hashed_features(docs, text_col, id_col, dim=dim)
    y = docs.select(
        F.col(id_col), token_count(F.col(text_col)).cast("long").alias("y")
    )
    X = feats.join(y, id_col).persist()
    X.count()

    a = X.select(F.col(id_col), F.col("dim_idx").alias("j"), F.col("value").alias("vj"))
    b = X.select(F.col(id_col), F.col("dim_idx").alias("k"), F.col("value").alias("vk"))
    gram = (
        a.join(b, id_col)
        .filter(F.col("j") <= F.col("k"))
        .groupBy("j", "k")
        .agg(F.sum(F.col("vj") * F.col("vk")).alias("value"))
        .select("j", "k", "value", F.lit("gram").alias("kind"))
    )
    xty = (
        X.groupBy(F.col("dim_idx").alias("j"))
        .agg(F.sum(F.col("value") * F.col("y")).alias("value"))
        .select("j", F.lit(-1).cast("int").alias("k"), "value", F.lit("xty").alias("kind"))
    )
    # cache release: the suffstats are dim²-bounded (tiny) while X is
    # corpus-sized — materialize the result and free X's cache.
    out = gram.unionByName(xty).localCheckpoint(eager=True)
    X.unpersist()
    return out


# ---------------------------------------------------------------------------
# Chi-square discriminative-token mining (feature selection)
# ---------------------------------------------------------------------------


def token_chi2(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    label: Column,
    *,
    min_df: int = 5,
) -> DataFrame:
    """Per-token chi-square against a boolean doc label — the standard
    text feature-selection statistic (which tokens discriminate class
    from rest), used to mine language wordlists, source-signature
    phrases, and classifier vocabularies from a corpus.

    Presence-based contingency per token t: a = |docs with t, y=1|,
    b = |docs with t, y=0|, against class totals (n1, n0);
    chi² = n·(ad−bc)² / ((a+b)(c+d)·n1·n0). The (ad−bc) determinant
    is computed EXACTLY in int64, then one fixed left-to-right chain
    of IEEE double ops (identical in the oracle) — overflow-free at
    any corpus size, hash-stable at ROUND 4.

    Shape: explode → (doc, token) DISTINCT (uniform keys, partial
    combine collapses in-doc repeats map-side) → one vocab-keyed
    count whose output is vocabulary-sized; class totals are a single
    broadcast row. Tokens in fewer than ``min_df`` or in every doc
    are dropped (the latter makes the denominator zero and carries no
    signal).
    """
    lab = docs.select(
        F.col(id_col), F.when(label, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("y")
    )
    tot = lab.agg(
        F.sum("y").alias("n1"), (F.count(F.lit(1)) - F.sum("y")).alias("n0")
    )
    pres = (
        docs.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .distinct()
        .join(lab, id_col)
    )
    cnt = pres.groupBy("token").agg(
        F.sum("y").alias("a"), (F.count(F.lit(1)) - F.sum("y")).alias("b")
    )
    j = cnt.crossJoin(F.broadcast(tot))
    c = F.col("n1") - F.col("a")
    d = F.col("n0") - F.col("b")
    diff = (F.col("a") * d - F.col("b") * c).cast("double")
    n = (F.col("n1") + F.col("n0")).cast("double")
    den = (
        (F.col("a") + F.col("b")).cast("double")
        * (c + d).cast("double")
        * F.col("n1").cast("double")
        * F.col("n0").cast("double")
    )
    return (
        j.filter(
            (F.col("a") + F.col("b") >= min_df)
            & (F.col("a") + F.col("b") < F.col("n1") + F.col("n0"))
            # degenerate single-class label (n1=0 or n0=0): the chi2
            # denominator is 0 and double 0/0 semantics DIFFER across
            # engines (Spark NULL, DuckDB IEEE NaN/inf) — and no token
            # can discriminate when only one class exists, so drop all
            # rows, mirrored in the oracle.
            & (F.col("n1") > 0)
            & (F.col("n0") > 0)
        )
        .select(
            "token",
            F.col("a").cast("bigint").alias("a"),
            F.col("b").cast("bigint").alias("b"),
            F.round(n * diff * diff / den, 4).alias("chi2"),
        )
    )


def canonical_url(col: Column | str) -> Column:
    """Crawl-frontier URL canonicalization: the normalization every
    web-scale ingest runs BEFORE exact URL dedup, so that re-crawls of
    the same page under cosmetic variations collapse to one frontier
    entry. Normalizes, in order: strip fragment; lowercase scheme and
    host; drop the SCHEME'S default port only (:80 for http, :443 for
    https — http://h:443 is a real distinct endpoint and must NOT
    merge); collapse trailing slashes on the path (root stays '/');
    strip tracking parameters (utm_*/fbclid/gclid) from the query
    while preserving the relative order of surviving params
    (order-preserving rather than sorted — sorted canonicalization
    merges more but needs a split/sort round-trip; this form is one
    regexp chain).

    Tracking-param stripping prepends '&' to the query first so every
    param has a mandatory leading '&' — the anchored single-pass form
    that neither eats into longer names (myfbclid) nor leaves dangling
    separators for consecutive tracking params; RE2 (the DuckDB oracle
    engine) has no lookbehind, so anchoring by rewrite is the portable
    construction.

    Pure JVM regexp expressions — codegen at scan bandwidth, no Python
    URL parser; replays exactly in DuckDB (regexp_extract returns ''
    on no-match in both engines, verified)."""
    c = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(c, r"#.*", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    rawhost = F.lower(F.regexp_extract(u, r"^[A-Za-z]+://([^/?#]+)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(rawhost, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(rawhost, r":443$", ""))
        .otherwise(rawhost)
    )
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1), r"/+$", ""
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    q = F.regexp_replace(
        F.regexp_replace(
            F.concat(F.lit("&"), query),
            r"&(utm_[a-z]+|fbclid|gclid)=[^&]*",
            "",
        ),
        r"^&",
        "",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def _cm_cells(token_col: str, depth: int, width: int):
    """The (row, cell) coordinate array for one token — shared by the
    batch sketch, the probe path, and the streaming twin so all three
    hash identically."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{i}:"), F.col(token_col))), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).cast("int").alias("cell"),
            )
            for i in range(depth)
        ]
    )


def countmin_sketch(
    docs: DataFrame, text_col: str, *, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch of the corpus token-frequency distribution
    (Cormode & Muthukrishnan 2005): ``depth`` independent hash rows of
    ``width`` integer cells; estimate(t) = min over rows of
    cell[row, h_row(t)], which can only OVERESTIMATE (collisions add,
    never subtract). The fixed-size mergeable summary for "roughly how
    frequent is X" when the exact table (Misra-Gries + recount,
    :func:`heavy_hitters`) is more state than the question deserves —
    and, unlike MG, it answers for ANY token after the fact, not just
    the pre-qualified heavy ones.

    Hash row i maps a token via the md5 of ``"{i}:{token}"`` (first 8
    hex chars, big-endian, mod width) — seedless, engine-replayable,
    rows independent by the prefix. Construction is ONE pass: each
    token emits its ``depth`` (row, cell) pairs from a projected
    array (no per-row union), then one uniform-key aggregate to the
    depth × width cell table — dimension-sized output, map-side
    combine does the heavy lifting, and two sketches built on disjoint
    corpus halves MERGE by cell-wise addition (tested).
    """
    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
    cells = _cm_cells("token", depth, width)
    return (
        tok.select(F.explode(cells).alias("rc"))
        .select(F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
        .groupBy("row", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def countmin_estimates(
    sketch: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query a count-min sketch for each probe token: join the
    probe's ``depth`` (row, cell) coordinates against the cell table
    and take the min. The sketch is depth × width rows — it rides a
    BROADCAST onto the probe stream, so estimating a billion probes is
    a map-only pass. Returns ``(token, cm_est)``; absent cells read 0
    (a token the corpus never produced estimates 0 unless collided)."""
    coords = _cm_cells("token", depth, width)
    probed = probes.select(F.col(token_col).alias("token")).select(
        "token", F.explode(coords).alias("rc")
    ).select("token", F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
    return (
        probed.join(F.broadcast(sketch), ["row", "cell"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("cm_est"))
    )


def tfidf_topk_keywords(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Top-k keywords per document by tf·idf, INTEGER-EXACT: the idf
    is the scaled floor-division ``(N_docs × idf_scale) div df`` (never
    float ``log`` — libm's last-bit behavior differs across engines;
    the scaled-reciprocal idf preserves the df ranking that matters for
    keyword extraction while keeping every score a bigint that compares
    identically everywhere). Ranking per doc is (score desc, token asc)
    through ``row_number`` — WindowGroupLimit pushes the per-doc top-k
    below the sort, so only k rows per document survive the window.

    Scale shape: ONE corpus scan + explode; the df count rides a
    token-partitioned window over the tf table (the inverted-index
    trick from ``_ngram_pair_counts`` — no second scan, no separate df
    aggregate), the single-row total rides the tiny-row crossJoin
    idiom (its count scan is column-pruned to nothing), and the per-doc
    ranking window is the only doc-keyed shuffle. No corpus-sized
    driver data anywhere.

    Returns (doc_id, token, tf, df, score, rn) for rn ≤ k.
    """
    base = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )
    toks = base.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    from pyspark.sql import Window

    wtok = Window.partitionBy("token")
    total = base.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wtok).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.expr(f"tf * ((nd * {idf_scale}) div df)").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
    )


def html_visible_text(t: str) -> str:
    """Visible text of one HTML string — the plain-Python kernel
    behind :func:`html_text`, exposed for driver/Arrow callers that
    already hold decoded pages (the WET writer, r11). Stdlib
    ``html.parser`` (tolerant of real-web tag soup), dropping
    <script>/<style>/<head>/<template>/<noscript> subtrees entirely,
    decoding character references, joining surviving chunks in
    document order with single spaces."""
    from html.parser import HTMLParser

    _skip = {"script", "style", "head", "template", "noscript"}

    class _Extract(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.depth = 0
            self.chunks: list[str] = []

        def handle_starttag(self, tag, attrs):
            if tag in _skip:
                self.depth += 1

        def handle_endtag(self, tag):
            if tag in _skip and self.depth > 0:
                self.depth -= 1

        def handle_data(self, data):
            if self.depth == 0:
                piece = " ".join(data.split())
                if piece:
                    self.chunks.append(piece)

    p = _Extract()
    p.feed(t)
    p.close()
    return " ".join(p.chunks)


def html_text(col: Column | str) -> Column:
    """HTML → visible text: the extraction step between a WARC
    response body and every text operator in this module (the WET
    stage of a crawl pipeline) — :func:`html_visible_text` as a
    column. One Arrow pass, pure per-row projection — at 100 TB this
    runs at scan speed next to the WARC record explode, no shuffle.
    None/undecodable → None."""

    @F.pandas_udf("string")
    def _extract(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                try:
                    out.append(html_visible_text(t))
                except Exception:
                    out.append(None)
            yield pd.Series(out, dtype="object")

    return _extract(F.col(col) if isinstance(col, str) else col)


def html_markdown(col: Column | str) -> Column:
    """HTML → MARKDOWN: the structure-preserving sibling of
    :func:`html_text` and the extraction LLM corpora actually want —
    flattening to plain text throws away the headings, lists, links,
    and code blocks that carry meaning for a language model. Subset
    (each rule exercised by the fixture): h1-h6 → ``#``·n headings;
    p/div → paragraph blocks; ul/ol li → ``- `` / ``k. `` lines;
    <a href> → ``[text](href)``; b/strong → ``**``, i/em → ``*``,
    inline code → backticks; <pre> → fenced block with RAW whitespace
    preserved; script/style/head/template/noscript subtrees dropped;
    blocks joined with blank lines. Stdlib tag-soup parser, one Arrow
    pass, no shuffle. None/unparsable → None."""
    from html.parser import HTMLParser

    _skip = {"script", "style", "head", "template", "noscript"}
    _inline = {"b": "**", "strong": "**", "i": "*", "em": "*",
               "code": "`"}
    _blocks = {"p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li"}

    class _MD(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.skip = 0
            self.blocks: list[str] = []
            self.stack: list[list[str]] = [[]]  # inline token buffers
            self.open_tags: list[tuple[str, str]] = []  # (tag, href)
            self.lists: list[list] = []  # [kind, counter, lines]
            self.pre = 0
            self.pre_raw: list[str] = []

        def handle_starttag(self, tag, attrs):
            if tag in _skip:
                self.skip += 1
                return
            if self.skip or self.pre:
                return
            if tag == "pre":
                self.pre = 1
                self.pre_raw = []
            elif tag in ("ul", "ol"):
                self.lists.append([tag, 0, []])
            elif tag in _blocks:
                self.stack.append([])
                self.open_tags.append((tag, ""))
            elif tag in _inline or tag == "a":
                self.stack.append([])
                self.open_tags.append(
                    (tag, dict(attrs).get("href", "") or "")
                )

        def handle_endtag(self, tag):
            if tag in _skip:
                self.skip = max(0, self.skip - 1)
                return
            if self.skip:
                return
            if tag == "pre" and self.pre:
                self.pre = 0
                raw = "".join(self.pre_raw).strip("\n")
                self.blocks.append("```\n" + raw + "\n```")
                return
            if self.pre:
                return
            if tag in ("ul", "ol") and self.lists:
                kind, _cnt, lines = self.lists.pop()
                if lines:
                    self.blocks.append("\n".join(lines))
                return
            if not self.open_tags or self.open_tags[-1][0] != tag:
                return  # stray end tag: tag-soup tolerance
            _t, href = self.open_tags.pop()
            inner = " ".join(self.stack.pop())
            if tag == "a":
                self.stack[-1].append(f"[{inner}]({href})")
            elif tag in _inline:
                m = _inline[tag]
                self.stack[-1].append(m + inner + m)
            elif tag == "li":
                if self.lists:
                    self.lists[-1][1] += 1
                    kind, cnt = self.lists[-1][0], self.lists[-1][1]
                    mark = "- " if kind == "ul" else f"{cnt}. "
                    self.lists[-1][2].append(mark + inner)
                elif inner:
                    self.blocks.append("- " + inner)
            elif tag[0] == "h" and len(tag) == 2 and tag[1].isdigit():
                if inner:
                    self.blocks.append("#" * int(tag[1]) + " " + inner)
            else:  # p / div
                if inner:
                    self.blocks.append(inner)

        def handle_data(self, data):
            if self.skip:
                return
            if self.pre:
                self.pre_raw.append(data)
                return
            self.stack[-1].extend(data.split())

        def result(self) -> str:
            # unclosed tags / unterminated lists must not LOSE text:
            # flush leftover list lines and flatten stranded buffers
            blocks = list(self.blocks)
            for _kind, _cnt, lines in self.lists:
                blocks.extend(lines)
            tail = " ".join(t for buf in self.stack for t in buf)
            return "\n\n".join(blocks + ([tail] if tail else []))

    @F.pandas_udf("string")
    def _convert(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                try:
                    p = _MD()
                    p.feed(t)
                    p.close()
                    out.append(p.result())
                except Exception:
                    out.append(None)
            yield pd.Series(out, dtype="object")

    return _convert(F.col(col) if isinstance(col, str) else col)


# ---------------------------------------------------------------------------
# robots.txt admission (RFC 9309) — crawl-compliance gating
# ---------------------------------------------------------------------------


def robots_compile(txt: str, agent: str = "*") -> list:
    """Parse a robots.txt into the (allow, pattern) rules of the
    group(s) applying to ``agent`` per RFC 9309: groups are runs of
    ``User-agent`` lines followed by rules; the agent's own group(s)
    win when any exist, otherwise the ``*`` group(s); matching groups
    MERGE. Comments (#) strip; empty patterns are ignored (an empty
    Disallow means allow-all and matches nothing)."""
    groups: list[tuple[list, list]] = []  # (agents, rules)
    cur_agents: list[str] = []
    cur_rules: list = []
    in_agents = True
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agents:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
            in_agents = True
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_agents = False
            if val:
                cur_rules.append((key == "allow", val))
    if cur_agents or cur_rules:
        groups.append((cur_agents, cur_rules))
    a = agent.lower()
    named = [r for ags, rs in groups if a in ags for r in rs]
    if named:
        return named
    return [r for ags, rs in groups if "*" in ags for r in rs]


def _robots_regex(pattern: str) -> str:
    """RFC 9309 pattern → anchored regex: '*' matches any octet run,
    a trailing '$' anchors the end, everything else is literal; the
    pattern always anchors at the path start."""
    import re as _re

    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "^" + ".*".join(_re.escape(part) for part in body.split("*"))
    return rx + "$" if anchored else rx


def robots_admit_udf(robots_txt: str, agent: str = "*"):
    """Pandas-UDF factory (closure per the UDF-parameter rule):
    path column → allowed boolean under ``robots_txt``'s rules for
    ``agent``, RFC 9309 precedence — the LONGEST (most octets)
    matching pattern decides; allow wins a length tie; no match ⇒
    allowed. The compiled rule set is a per-site handful of regexes
    captured in the closure — at 100 TB you group fetch candidates by
    host and apply each host's compiled set, so the admission stays a
    map-side filter with no join."""
    import re as _re

    compiled = [
        (allow, len(pat), _re.compile(_robots_regex(pat)))
        for allow, pat in robots_compile(robots_txt, agent)
    ]

    @F.pandas_udf("boolean")
    def _admit(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for paths in it:
            out = []
            for p in paths:
                best = None  # (pattern length, allow)
                for allow, ln, rx in compiled:
                    if rx.match(p) and (
                        best is None
                        or ln > best[0]
                        or (ln == best[0] and allow)
                    ):
                        best = (ln, allow)
                out.append(best[1] if best is not None else True)
            yield pd.Series(out)

    return _admit


def robots_crawl_delay(txt: str, agent: str = "*") -> float | None:
    """Crawl-delay of the group applying to ``agent`` — the de-facto
    extension every major crawler but Google honors. SAME group-
    selection contract as :func:`robots_compile` (named groups beat
    the ``*`` groups; matching groups merge); when several matching
    groups declare delays, the LARGEST (most conservative) wins;
    ``None`` when the selected groups declare none."""
    groups: list[tuple[list, list]] = []  # (agents, delays)
    cur_agents: list[str] = []
    cur_delays: list[float] = []
    in_agents = True
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agents:
                groups.append((cur_agents, cur_delays))
                cur_agents, cur_delays = [], []
            in_agents = True
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_agents = False
        elif key == "crawl-delay":
            in_agents = False
            try:
                cur_delays.append(float(val))
            except ValueError:
                pass
    if cur_agents or cur_delays:
        groups.append((cur_agents, cur_delays))
    a = agent.lower()
    named = [d for ags, ds in groups if a in ags for d in ds]
    if named:
        return max(named)
    star = [d for ags, ds in groups if "*" in ags for d in ds]
    return max(star) if star else None


def robots_admit_multi_udf(robots_by_key: dict, agent: str = "*"):
    """:func:`robots_admit_udf` for a PER-HOST rule map: (key, path)
    → allowed under the robots.txt registered for that key. The
    compiled dict rides the closure — at 100 TB the per-host compiled
    rule sets are a broadcast-sized dim (robots files are KB-scale
    and hosts number in the millions, far below frontier row counts),
    so admission stays a map-side filter with no join."""
    import re as _re

    compiled = {
        k: [
            (allow, len(pat), _re.compile(_robots_regex(pat)))
            for allow, pat in robots_compile(txt, agent)
        ]
        for k, txt in robots_by_key.items()
    }

    @F.pandas_udf("boolean")
    def _admit(
        it: Iterator[Tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        for keys, paths in it:
            out = []
            for k, p in zip(keys, paths):
                rules = compiled.get(int(k), [])
                best = None
                for allow, ln, rx in rules:
                    if rx.match(p) and (
                        best is None
                        or ln > best[0]
                        or (ln == best[0] and allow)
                    ):
                        best = (ln, allow)
                out.append(best[1] if best is not None else True)
            yield pd.Series(out)

    # Non-deterministic marker (guide §4.4): used as a FILTER right
    # above a frontier anti-join, the optimizer propagated the
    # admission predicate through the join-key equality onto BOTH
    # union branches of the crawled side — the Python UDF ran over
    # the whole crawled set twice before this marker (baseline plan
    # `git show 03e6117:plans/r14/pipeline_frontier_polite_before.txt`,
    # ArrowEvalPython nodes (15)/(21)), for a filter whose only job is
    # to gate frontier-side rows. Callers apply cheap row filters
    # before it.
    return _admit.asNondeterministic()


_MOJIBAKE_ENCODINGS = ("cp1252", "latin-1", "shift_jis")


def fix_mojibake_udf():
    """Encoding-repair kernel (the ftfy core case): text that was
    UTF-8 bytes mis-decoded as cp1252 ("é" shipped as "Ã©", "’" as
    "â€™"), latin-1 ("’" shipped as "â\\x80\\x99" control chars), or
    shift_jis (CJK UTF-8 read as katakana soup) round-trips back
    through encode(enc) → decode('utf-8'). Encodings are tried in a
    DETERMINISTIC precedence order (cp1252, latin-1, shift_jis — most
    common mis-decode first; r8 verdict item 6) and the first whose
    BOTH strict conversions succeed wins the hop; anything that
    survives none — genuine Latin text, plain ASCII, already-clean
    Unicode — passes through unchanged, so the repair can never
    corrupt clean text. (cp1252 and latin-1 agree outside 0x80-0x9F,
    so precedence is only visible on strings containing those bytes'
    codepoints — where the distinction is real.) The repair iterates
    to a bounded FIXPOINT so doubly double-encoded text unwinds fully
    — the ftfy behavior. Returns (fixed, was_fixed, encoding — the
    first repairing hop's encoding, NULL if untouched); map-side, no
    shuffle, one Arrow pass."""

    @F.pandas_udf(
        "struct<fixed:string, was_fixed:boolean, encoding:string>"
    )
    def _fix(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            fixed, was, first_enc = [], [], []
            for t in texts:
                if t is None:
                    fixed.append(None)
                    was.append(None)
                    first_enc.append(None)
                    continue
                cur = t
                first = None
                for _ in range(4):  # real mojibake is 1-2 hops deep
                    cand = used = None
                    for enc in _MOJIBAKE_ENCODINGS:
                        try:
                            cand = cur.encode(enc).decode("utf-8")
                            used = enc
                            break
                        except (UnicodeEncodeError, UnicodeDecodeError):
                            continue
                    if cand is None or cand == cur:
                        break
                    cur = cand
                    if first is None:
                        first = used
                fixed.append(cur)
                was.append(cur != t)
                first_enc.append(first if cur != t else None)
            yield pd.DataFrame(
                {"fixed": fixed, "was_fixed": was, "encoding": first_enc}
            )

    return _fix


_HREF_RE = r"""(?i)<a\s[^>]*?href\s*=\s*["']([^"'>]*)["']"""


def html_hrefs(col: Column | str) -> Column:
    """ARRAY of raw href values from the ``<a>`` tags of one HTML
    string — attribute-order insensitive (lazy ``[^>]*?`` skip), case
    insensitive, double- or single-quoted. A pure JVM
    ``regexp_extract_all`` at scan bandwidth (the WAT-side outlink
    walk must run at crawl scale with zero Python), replayed exactly
    by DuckDB's ``regexp_extract_all`` (RE2 supports the same (?i)
    and lazy forms)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(_HREF_RE), F.lit(1))


def resolve_url(base: Column | str, href: Column | str) -> Column:
    """RFC 3986-style reference resolution as a pure JVM regexp chain
    (no Python URL parser — same design as :func:`canonical_url`):
    absolute references pass through; ``//host/…`` takes the base
    scheme; ``/path`` takes the base origin; fragment-only and empty
    references resolve to NULL (self-links — a frontier must drop
    them); everything else joins the base DIRECTORY, then ``/./`` and
    up to three levels of ``segment/../`` collapse inside the PATH
    component only (the origin is split out first, so ``..`` can
    never climb into the authority — and RE2 has no lookbehind to do
    it in place). Climbing above the root is left as-is, matching the
    conservative crawler behavior of keeping the reference visibly
    malformed rather than guessing."""
    b = F.col(base) if isinstance(base, str) else base
    h = F.col(href) if isinstance(href, str) else href
    h = F.regexp_replace(h, r"#.*", "")
    scheme = F.regexp_extract(b, r"^([A-Za-z]+)://", 1)
    origin = F.regexp_extract(b, r"^([A-Za-z]+://[^/?#]+)", 1)
    bdir = F.regexp_replace(
        F.regexp_replace(b, r"[?#].*", ""), r"[^/]*$", ""
    )
    raw = (
        F.when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .when(h == "", F.lit(None).cast("string"))
        .otherwise(F.concat(bdir, h))
    )
    o2 = F.regexp_extract(raw, r"^([A-Za-z]+://[^/?#]+)", 1)
    p2 = F.regexp_extract(raw, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    q2 = F.regexp_extract(raw, r"(\?[^#]*)", 1)
    p2 = F.regexp_replace(p2, r"/\./", "/")
    for _ in range(3):
        p2 = F.regexp_replace(p2, r"/[^/]+/\.\./", "/")
    # non-hierarchical absolutes (mailto:, javascript:, data:) pass
    # through untouched — the origin/path split only applies to
    # scheme://authority forms
    return F.when(
        ~raw.rlike(r"^[A-Za-z]+://"), raw
    ).otherwise(F.concat(o2, p2, q2))


def with_resolved_url(
    df: DataFrame,
    base_col: str,
    href_col: str,
    out_col: str = "resolved",
    *,
    canonical: bool = True,
) -> DataFrame:
    """``df`` plus ``out_col`` = resolve_url(base, href) (optionally
    canonical_url-normalized), STAGED through sequential projections
    so each intermediate (fragment-stripped href, joined reference,
    split origin/path/query) binds as ONE codegen variable instead of
    being textually re-inlined at every use site. The single-Column
    :func:`resolve_url` form duplicates the reference-join CASE ~4x
    and the href-strip ~6x inside it — at which point the generated
    whole-stage method crosses janino's 64 KB limit and Spark silently
    falls back to INTERPRETED expression evaluation (observed r12:
    'Code grows beyond 64 KB' on the outlink walk — the scan-bandwidth
    plan degraded to a matcher-per-call loop). CollapseProject keeps
    the stages apart because each intermediate is non-cheap and used
    more than once."""
    b, h0 = F.col(base_col), F.col(href_col)
    staged = df.withColumn("_h", F.regexp_replace(h0, r"#.*", ""))
    h = F.col("_h")
    raw = (
        F.when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), h)
        .when(
            h.startswith("//"),
            F.concat(
                F.regexp_extract(b, r"^([A-Za-z]+)://", 1), F.lit(":"), h
            ),
        )
        .when(
            h.startswith("/"),
            F.concat(
                F.regexp_extract(b, r"^([A-Za-z]+://[^/?#]+)", 1), h
            ),
        )
        .when(h == "", F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.regexp_replace(
                    F.regexp_replace(b, r"[?#].*", ""), r"[^/]*$", ""
                ),
                h,
            )
        )
    )
    staged = staged.withColumn("_raw", raw).drop("_h")
    rawc = F.col("_raw")
    p2 = F.regexp_replace(
        F.regexp_extract(rawc, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
        r"/\./", "/",
    )
    for _ in range(3):
        p2 = F.regexp_replace(p2, r"/[^/]+/\.\./", "/")
    joined = F.when(~rawc.rlike(r"^[A-Za-z]+://"), rawc).otherwise(
        F.concat(
            F.regexp_extract(rawc, r"^([A-Za-z]+://[^/?#]+)", 1),
            p2,
            F.regexp_extract(rawc, r"(\?[^#]*)", 1),
        )
    )
    staged = staged.withColumn("_joined", joined).drop("_raw")
    if not canonical:
        return staged.withColumnRenamed("_joined", out_col)
    # canonical_url staged the same way: its single-Column form
    # re-inlines the input ~10x (scheme/host/path/query each rebuilt
    # from scratch), which alone re-crosses the 64 KB line
    j = F.col("_joined")
    staged = (
        staged.withColumn("_cu", F.regexp_replace(j, r"#.*", ""))
        .withColumn(
            "_scheme",
            F.lower(F.regexp_extract(F.col("_cu"), r"^([A-Za-z]+)://", 1)),
        )
        .withColumn(
            "_rawhost",
            F.lower(
                F.regexp_extract(F.col("_cu"), r"^[A-Za-z]+://([^/?#]+)", 1)
            ),
        )
        .withColumn(
            "_path",
            F.regexp_replace(
                F.regexp_extract(
                    F.col("_cu"), r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1
                ),
                r"/+$", "",
            ),
        )
        .withColumn(
            "_q",
            F.regexp_replace(
                F.regexp_replace(
                    F.concat(
                        F.lit("&"),
                        F.regexp_extract(F.col("_cu"), r"\?([^#]*)", 1),
                    ),
                    r"&(utm_[a-z]+|fbclid|gclid)=[^&]*", "",
                ),
                r"^&", "",
            ),
        )
    )
    scheme, rawhost = F.col("_scheme"), F.col("_rawhost")
    path, q = F.col("_path"), F.col("_q")
    host = (
        F.when(scheme == "http", F.regexp_replace(rawhost, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(rawhost, r":443$", ""))
        .otherwise(rawhost)
    )
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return staged.withColumn(out_col, out).drop(
        "_joined", "_cu", "_scheme", "_rawhost", "_path", "_q"
    )


_ANCHOR_RE = (
    r"""(?is)<a\s[^>]*?href\s*=\s*["']([^"'>]*)["'][^>]*>(.*?)</a>"""
)


def html_anchors(col: Column | str) -> tuple[Column, Column]:
    """(hrefs, raw anchor markups) ARRAY pair for one HTML string —
    the raw href values and their anchor inner markup, index-aligned
    (both arrays come from the SAME regexp so they cannot skew):
    ``arrays_zip`` + ``explode`` yields (href, anchor) rows. Anchor
    text is the classic retrieval signal the WAT tier carries (how
    the web describes a page). Clean the exploded anchor with
    :func:`anchor_text` as a POST-explode projection — a JVM
    higher-order ``transform`` lambda here would run interpreted
    (the CLAUDE.md higher-order rule); the scalar form stays in
    whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    hrefs = F.regexp_extract_all(c, F.lit(_ANCHOR_RE), F.lit(1))
    texts = F.regexp_extract_all(c, F.lit(_ANCHOR_RE), F.lit(2))
    return hrefs, texts


def anchor_text(col: Column | str) -> Column:
    """Anchor inner markup → display text: tags stripped, whitespace
    canonicalized, trimmed. A plain scalar projection (codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_replace(c, r"<[^>]*>", " "), r"\s+", " ")
    )


# Unicode script classes as LITERAL character ranges — portable
# between Java regex and RE2 (no \uXXXX / \x{...} syntax divergence).
_SCRIPT_RANGES = {
    "latin": "[A-Za-z]",
    "cjk": "[一-鿿]",
    "cyrillic": "[Ѐ-ӿ]",
    "greek": "[Ͱ-Ͽ]",
    "arabic": "[؀-ۿ]",
}


def script_counts(col: Column | str) -> dict[str, Column]:
    """Exact per-script character counts (Latin/CJK/Cyrillic/Greek/
    Arabic) via the length-difference idiom — pure JVM codegen, and
    the ranges are emitted as literal characters so the same pattern
    replays in RE2. The first signal a multilingual corpus router
    needs BEFORE any model-based language ID: script is cheap, exact,
    and catches mixed-script spam (e.g. Cyrillic homoglyphs inside
    Latin text) that marker-word language ID can't see."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        name: (
            F.length(c) - F.length(F.regexp_replace(c, rng, ""))
        ).cast("long")
        for name, rng in _SCRIPT_RANGES.items()
    }


def dominant_script(col: Column | str) -> Column:
    """Argmax script of :func:`script_counts` ('none' when no class
    matches); deterministic tie-break by declaration order."""
    counts = script_counts(col)
    best = F.greatest(*counts.values())
    out = F.lit("none")
    for name in reversed(list(counts)):  # earlier names win ties
        out = F.when(
            (counts[name] > 0) & (counts[name] == best), name
        ).otherwise(out)
    return out


def unicode_normalize(
    col: Column | str, form: str = "NFC"
) -> Column:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) as an Arrow pandas
    UDF over ``unicodedata`` — the canonicalization exact dedup MUST
    run first: composed 'é' (U+00E9) and decomposed 'e'+U+0301 are
    different byte strings for the same text, so un-normalized exact
    dedup silently keeps both (and un-normalized groupBy keys split).
    Python is the right venue: the JVM has no normalizer exposed in
    pyspark.sql.functions, and the Arrow batch path keeps this at
    ~memory bandwidth."""
    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("string")
    def _norm(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import unicodedata

        for texts in it:
            yield texts.map(
                lambda t: None if t is None
                else unicodedata.normalize(form, t)
            )

    return _norm(c)


_BOILER_TAGS = ("nav", "header", "footer", "aside")


def main_content(html: str) -> tuple[str | None, int, str]:
    """Readability-lite main-content extraction — the deterministic
    boilerplate-removal pass a training corpus runs on crawled HTML
    (the trafilatura/readability workload, rule-subset form):

    1. comments, <script>/<style>/<template> stripped WITH content;
    2. <nav>/<header>/<footer>/<aside> blocks dropped whole;
    3. scope = all <article> bodies when any exist, else what
       remains (the fallback for non-semantic markup);
    4. paragraphs = <p> blocks in scope, kept when non-empty and not
       link-dominated (2 x anchor-text chars <= total chars — integer
       arithmetic, no float threshold);
    5. title = <title> text, else the first <h1>, else None.

    Returns (title, n_paragraphs, text) with paragraphs joined by
    newline, tags stripped, entities unescaped, whitespace
    canonicalized. Pure ``re`` string rules — deterministic and
    exactly replayable."""
    import html as _html
    import re as _re

    def clean(t: str) -> str:
        t = _re.sub(r"<[^>]*>", " ", t)
        return _re.sub(r"\s+", " ", _html.unescape(t)).strip()

    s = _re.sub(r"<!--.*?-->", " ", html, flags=_re.S)
    s = _re.sub(
        r"<(script|style|template)\b.*?</\1\s*>", " ", s,
        flags=_re.S | _re.I,
    )
    for tag in _BOILER_TAGS:
        s = _re.sub(
            rf"<{tag}\b.*?</{tag}\s*>", " ", s, flags=_re.S | _re.I
        )
    tm = _re.search(r"<title[^>]*>(.*?)</title\s*>", s, _re.S | _re.I)
    title = clean(tm.group(1)) if tm else None
    if not title:
        hm = _re.search(r"<h1[^>]*>(.*?)</h1\s*>", s, _re.S | _re.I)
        title = clean(hm.group(1)) if hm else None
    articles = _re.findall(
        r"<article\b[^>]*>(.*?)</article\s*>", s, _re.S | _re.I
    )
    scope = " ".join(articles) if articles else s
    paras = []
    for p in _re.findall(r"<p\b[^>]*>(.*?)</p\s*>", scope, _re.S | _re.I):
        text = clean(p)
        if not text:
            continue
        link_text = " ".join(
            clean(a) for a in _re.findall(
                r"<a\b[^>]*>(.*?)</a\s*>", p, _re.S | _re.I
            )
        )
        if 2 * len(link_text) > len(text):
            continue  # link-dominated: navigation, not content
        paras.append(text)
    return title, len(paras), "\n".join(paras)


def frontier_increment(
    frontier_old: DataFrame,
    crawled_old: DataFrame,
    cand_new: DataFrame,
    crawled_new: DataFrame,
) -> DataFrame:
    """Append-only crawl-frontier maintenance (r13): fold a new
    extraction batch's candidate targets and newly-crawled URLs into
    the standing frontier WITHOUT re-reading old pages — the
    incremental twin of the expand-from-scratch step, landing on the
    recompute bit-for-bit (the sessionize_incremental contract).

    - ``frontier_old``: the standing (target, n_refs, …) table;
    - ``crawled_old``: the standing crawled-URL INDEX (a real crawler
      keeps it anyway — at 100 TB it is the bucketed URL index the
      anti-join co-locates on);
    - ``cand_new``: (target, n_refs) reference counts from the NEW
      batch only;
    - ``crawled_new``: URLs the new batch crawled.

    Reference counts are additive, so the merge is one uniform-key
    groupBy over standing ∪ new; the anti-join re-applies the FULL
    crawled set because a new candidate can collide with an OLD
    crawled URL (and re-filtering the standing rows is idempotent).
    One aggregate exchange + one anti-join — the same plan shape as
    the from-scratch expand, over batch-sized inputs."""
    merged = (
        frontier_old.select("target", "n_refs")
        .unionByName(cand_new.select("target", "n_refs"))
        .groupBy("target")
        .agg(F.sum("n_refs").cast("long").alias("n_refs"))
    )
    crawled = (
        crawled_old.select("url")
        .unionByName(crawled_new.select("url"))
        .distinct()
    )
    return merged.join(
        crawled, merged.target == crawled.url, "left_anti"
    ).select(
        "target", "n_refs",
        F.regexp_extract("target", "://([^/]+)", 1).alias("host"),
    )
