"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- Shingling, hashing, signatures: pure JVM expressions (codegen) — no
  Python in the per-document hot path except SimHash's bit-count fold,
  which is an Arrow-batched pandas UDF over pre-hashed tokens.
- Candidate generation never does an all-pairs cross join: the n-gram
  path uses an inverted-index self-join with a hot-shingle cap (on by
  default — the df cap kills the quadratic blowup of stop-shingles);
  the MinHash path joins on LSH band buckets; SimHash joins on 8-bit
  chunks (pigeonhole: any pair within hamming distance 7 shares one of
  8 chunks).
- Exact verification runs only on candidates.
"""

from __future__ import annotations

import random
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoopxmlextractor_spark.operators.text import hash64 as _hash64
from hadoopxmlextractor_spark.operators.text import tokens
from hadoopxmlextractor_spark.plans.parallelism import ensure_min_parallelism

_MERSENNE31 = 2147483647  # 2^31 - 1; keeps a*x+b inside int64 under ANSI mode


def _py_shingles(text: str, n: int) -> list[str]:
    """Distinct n-word shingles; mirrors :func:`word_shingles` (docs
    shorter than ``n`` words yield their whole text as one shingle)."""
    toks = text.split()
    if len(toks) < n:
        return [" ".join(toks)]
    return list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """``array<long>`` of distinct n-word shingle hashes, computed in ONE
    Arrow-batched pandas UDF (tokenize → shingle → md5-64).

    Why not :func:`word_shingles` (the JVM expression)? Catalyst
    higher-order functions are *interpreted* — and worse, join
    constraints inferred above an explode get pushed down into Filter
    predicates that re-evaluate the whole shingle expression per row,
    re-running the tokenizing split once per lambda invocation
    (observed: a single-task scan stage burning 400+ s of CPU at
    sf0.1). A Python UDF is opaque to Catalyst: it is planned exactly
    once in an ArrowEvalPython node, predicates reference only its
    output attribute, and the per-batch work is C-speed.

    Marked non-deterministic (it is not — the hash is pure — but the
    guide-§4.4 marker stops the optimizer DUPLICATING the evaluation:
    ``InferFiltersFromGenerate`` synthesizes a ``size(arr) > 0`` filter
    below every non-outer explode of the output, and pushing that
    filter re-plans the whole ArrowEvalPython a second time — measured
    as two UDF nodes per pass in every r14 baseline dedup plan). The
    trade-off is that OTHER filters no longer push below the UDF
    either, so call sites must apply cheap row filters BEFORE calling
    this (they all do)."""
    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("array<long>")
    def _sh(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            yield pd.Series(
                [
                    None
                    if t is None
                    else [_hash64(s) for s in _py_shingles(t, n)]
                    for t in texts
                ]
            )

    return _sh.asNondeterministic()(c)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles as space-joined strings; docs shorter
    than n words get their whole text as one shingle."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    return F.array_distinct(
        F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact (md5) text hash. Hash-groupBy:
    one shuffle on the 128-bit digest, no skew (hashes are uniform)."""
    w = Window.partitionBy("text_hash").orderBy(id_col)
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------


def _ngram_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    max_df: int | float | None = "auto",
    candidate_budget: int | None = "auto",
) -> DataFrame:
    """Shared inverted-index machinery for the n-gram pair family —
    (doc_a, doc_b, size_a, size_b, shared) for every co-shingled pair,
    computed exactly: explode shingles → self-join on shingle → count
    shared. Callers derive Jaccard or containment. ``max_df`` drops shingles
    appearing in more than that many docs (skew guard: a stop-shingle in
    1M docs would otherwise generate 10^12 join rows).

    ``max_df="auto"`` (the default) derives the cap from corpus size as
    ``max(1000, 1% of docs)`` — the guard is ON unless explicitly
    disabled with ``max_df=None``. A shingle shared by more than 1% of a
    large corpus carries no near-dup signal but dominates the join
    fan-out, so dropping it changes Jaccard by at most ~1/|shingles| per
    hot shingle while bounding the self-join at max_df² rows per
    shingle.

    CANDIDATE-BUDGET GUARD (the fail-fast contract): the exact path's
    cost is the true co-shingled candidate count — Σ_shingle C(df,2),
    the self-join's exact output row count — which is data-dependent
    and super-linear on repetitive corpora (measured ~x^1.7 at 10×,
    SCALE.md). Before launching the join, one dimension-sized aggregate
    over the already-persisted inverted index computes that count
    EXACTLY and RAISES when it exceeds ``candidate_budget``, with
    routing guidance to the sub-linear LSH path — a fast failure
    instead of a silently enormous job. ``candidate_budget="auto"``
    (default) allows ``max(2_000_000, 500 × n_docs)`` join rows —
    linear-in-corpus work with ~2× headroom over the synthetic-corpus
    density (sf0.1 measures ~253 candidates/doc), so any corpus whose
    pair fan-out grows super-linearly trips the guard within one
    order of magnitude of scale-up (the sf0.01→sf0.1 measured
    exponent ~1.95 crosses 500/doc before 10×). Pass an int to
    override or ``None`` for a bounded slice you have sized yourself
    (mirrors the :func:`heavy_hitters` provable-exactness guard).
    """
    n_docs = None
    if max_df == "auto" or candidate_budget == "auto":
        # Pruned count on the raw input (id column only — no shingle UDF).
        n_docs = df.select(id_col).count()
    if max_df == "auto":
        max_df = max(1000, int(0.01 * n_docs))
    if candidate_budget == "auto":
        candidate_budget = max(2_000_000, 500 * n_docs)
    sh = (
        ensure_min_parallelism(df.select(id_col, text_col))
        .select(F.col(id_col).alias("doc"), shingle_hashes(text_col, n).alias("shingles"))
        .withColumn("n_shingles", F.size("shingles"))
    )
    # Joining on the 64-bit shingle hash (not the shingle string) keeps
    # the shuffle payload fixed-width; Jaccard counts are unchanged
    # w.h.p. (64-bit collisions are ~1e-9 at 1e5 distinct shingles).
    #
    # r14-opt restructure (guide §2.4 — remove shuffles outright): the
    # df-cap window and its filter are folded INTO the persisted index,
    # so the shingle-keyed exchange + sort + window run ONCE at cache
    # build instead of once per consuming branch (the r13 plan relied
    # on ReusedExchange to merge the two branch windows; under
    # AQE + InMemoryRelation that reuse never fired and both ran —
    # measured as two identical 4 MB shuffle writes at sf0.1). The
    # cached index comes out hash-partitioned AND sorted on `shingle`,
    # which is exactly the self-join key, so both join sides read the
    # cache with no further exchange. The count() materializes the
    # cache EAGERLY — without it AQE submits the consuming stages
    # concurrently and each races to recompute the (Python-UDF)
    # lineage before any block is cached.
    inv = sh.select(
        "doc", "n_shingles", F.explode("shingles").alias("shingle")
    )
    if max_df is not None or candidate_budget is not None:
        wdf = Window.partitionBy("shingle")
        inv = inv.withColumn("df", F.count(F.lit(1)).over(wdf))
    if max_df is not None:
        inv = inv.filter(F.col("df") <= max_df)
    inv = inv.persist()
    inv.count()
    if candidate_budget is not None:
        # Exact join fan-out from the cached index: Σ C(df,2) over the
        # surviving (≤ max_df) shingles — computed as Σ_rows (df−1)/2,
        # one projection-level sum over the cache with no groupBy and
        # no exchange (each row of a shingle with document frequency
        # df contributes df−1 ordered co-occurrences; halving the sum
        # de-duplicates the orientation and is integer-exact because
        # Σ df·(df−1) is even).
        tot = inv.agg(
            F.sum(F.col("df") - F.lit(1)).cast("long").alias("t")
        ).first()["t"]
        est_candidates = (tot or 0) // 2
        if est_candidates > candidate_budget:
            inv.unpersist()
            raise ValueError(
                f"ngram pair candidate budget exceeded: the exact "
                f"inverted-index self-join would produce "
                f"{est_candidates} co-shingled candidate rows > budget "
                f"{candidate_budget}. The exact path is for bounded "
                f"slices; at this scale route to the sub-linear LSH "
                f"path (dedup.minhash_lsh_candidates / the "
                f"dedup_minhash_lsh query), tighten max_df, or raise "
                f"candidate_budget explicitly if the cost is intended."
            )
    a = inv.select(
        F.col("shingle"),
        F.col("doc").alias("doc_a"),
        F.col("n_shingles").alias("size_a"),
    )
    b = inv.select(
        F.col("shingle"),
        F.col("doc").alias("doc_b"),
        F.col("n_shingles").alias("size_b"),
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pairs


# Driver-side ledger of route='auto' decisions — one lint-shaped
# finding per call ({"severity", "code", "op", "route", "detail"}), so
# a pipeline audit can see every silent exact→LSH fallback. The same
# decision is also attached to the returned DataFrame as an observe()
# metric (name "dedup_route:<op>:<route>") and a constant `route`
# column, so the record survives into event logs and output rows.
ROUTE_DECISIONS: list[dict] = []


def _record_route(op: str, route: str, detail: str) -> dict:
    finding = {
        "severity": "info" if route == "exact" else "warning",
        "code": "exact_route" if route == "exact" else "lsh_reroute",
        "op": op,
        "route": route,
        "detail": detail,
    }
    ROUTE_DECISIONS.append(finding)
    return finding


def _auto_route(df, text_col, id_col, *, op, exact_fn, n, threshold,
                num_hashes, bands, seed) -> DataFrame:
    """The route='auto' contract shared by the exact pair joins: try
    the exact path; when its fail-fast candidate-budget guard trips,
    transparently fall back to the sub-linear banded LSH path at the
    same threshold. Unified output (doc_a, doc_b, jaccard, route) —
    downstream never branches; the decision lands in
    :data:`ROUTE_DECISIONS`, an observe() metric, and the `route`
    column. At 100 TB this is the difference between a pipeline that
    stops at 3 a.m. with advice and one that finishes with an audit
    trail."""
    try:
        exact = exact_fn()
    except ValueError as e:
        if "candidate budget exceeded" not in str(e):
            raise
        _record_route(op, "lsh", str(e))
        lsh = dedup_minhash_lsh(
            df, text_col, id_col, num_hashes=num_hashes, shingle_n=n,
            bands=bands, threshold=threshold, seed=seed,
        )
        return lsh.select(
            "doc_a",
            "doc_b",
            F.col("est_jaccard").alias("jaccard"),
            F.lit("lsh").alias("route"),
        ).observe(f"dedup_route:{op}:lsh", F.count(F.lit(1)).alias("n_pairs"))
    _record_route(op, "exact", "within candidate budget")
    return exact.select(
        "doc_a", "doc_b", "jaccard", F.lit("exact").alias("route")
    ).observe(f"dedup_route:{op}:exact", F.count(F.lit(1)).alias("n_pairs"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | float | None = "auto",
    candidate_budget: int | None = "auto",
    route: str = "raise",
) -> DataFrame:
    """All pairs with n-gram Jaccard ≥ threshold (symmetric near-dup
    score) over :func:`_ngram_pair_counts`'s inverted index (including
    its fail-fast candidate-budget guard).

    ``route``: ``"raise"`` (default) keeps the fail-fast contract —
    the guard raises with LSH routing advice. ``"auto"`` falls back to
    the banded LSH path when the guard trips and returns the unified
    (doc_a, doc_b, jaccard, route) shape instead (see
    :func:`_auto_route`)."""
    def exact() -> DataFrame:
        return (
            _ngram_pair_counts(
                df, text_col, id_col, n=n, max_df=max_df,
                candidate_budget=candidate_budget,
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("shared")
                    / (F.col("size_a") + F.col("size_b") - F.col("shared")),
                    4,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "shared", "jaccard")
        )

    if route == "auto":
        return _auto_route(
            df, text_col, id_col, op="ngram_jaccard_pairs",
            exact_fn=exact, n=n, threshold=threshold,
            num_hashes=128, bands=32, seed=42,
        )
    return exact()


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | float | None = "auto",
    candidate_budget: int | None = "auto",
) -> DataFrame:
    """Pairs where the SMALLER document's shingles are ≥ ``threshold``
    contained in the other (max of the two directed containments
    |A∩B|/|A|, |A∩B|/|B|). Catches subset-duplication — a doc pasted
    inside a larger one — which symmetric Jaccard structurally misses:
    a 50-shingle doc inside a 5000-shingle doc has Jaccard ≤ 0.01 but
    containment 1.0 (Lee et al., arxiv:2107.06499 dedups BOTH ways).
    Same inverted index, same skew guards (including the fail-fast
    candidate budget), one extra projection."""
    return (
        _ngram_pair_counts(
            df, text_col, id_col, n=n, max_df=max_df,
            candidate_budget=candidate_budget,
        )
        .withColumn(
            "containment",
            F.round(
                F.col("shared")
                / F.least(F.col("size_a"), F.col("size_b")),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "shared", "containment")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 128,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) — MinHash over word shingles.

    The whole signature pipeline (tokenize → shingle → hash → H
    permutation minima ``min_x (a_j*x + b_j) mod 2^31-1``) runs in ONE
    Arrow-batched pandas UDF: the permutation minima are a single
    (H×S) numpy broadcast multiply per document, and keeping the
    shingle step out of JVM expression land avoids Catalyst pushing
    interpreted higher-order shingle expressions into filter
    predicates (see :func:`shingle_hashes`). No shuffle either way.
    """
    base = ensure_min_parallelism(df.select(id_col, text_col))
    sig = minhash_signature_udf(
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed
    )
    return base.select(
        F.col(id_col).alias("doc"), sig(F.col(text_col)).alias("signature")
    )


def minhash_signature_udf(
    *, num_hashes: int = 128, shingle_n: int = 3, seed: int = 42
):
    """Column-level form of :func:`minhash_signatures` (closure
    factory per the pandas_udf parameter rule): text column →
    ``array<long>`` signature, so callers that need to CARRY extra
    columns (e.g. a semantic scope) through the signature step compute
    it in place instead of joining the scope back on afterwards — at
    100 TB that join-back would be a corpus-sized shuffle."""
    import numpy as np

    params = _minhash_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    empty_sig = [_MERSENNE31] * num_hashes

    @F.pandas_udf("array<long>")
    def _signature(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            out = []
            for t in texts:
                if t is None:
                    out.append(empty_sig)
                    continue
                hs = np.fromiter(
                    (_hash64(s) % _MERSENNE31 for s in _py_shingles(t, shingle_n)),
                    dtype=np.int64,
                )
                out.append(((A * hs[None, :] + B) % _MERSENNE31).min(axis=1).tolist())
            yield pd.Series(out)

    # Non-deterministic marker: stops optimizer duplication of the
    # signature evaluation (guide §4.4 — same rationale as
    # :func:`shingle_hashes`); callers must pre-filter rows before
    # applying the UDF, since filters no longer push below it.
    return _signature.asNondeterministic()


def minhash_lsh_candidates(
    signatures: DataFrame,
    *,
    bands: int,
    rows_per_band: int,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band bucket.

    Banding: split the signature into ``bands`` slices of
    ``rows_per_band``; bucket key = hash(slice). Join on
    (band, bucket) — the shuffle key is uniform because buckets are
    hashes; ``max_bucket`` skips degenerate buckets (all-identical docs)
    that would go quadratic.
    """
    banded = signatures.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.hash(F.slice("signature", k * rows_per_band + 1, rows_per_band))
                    for k in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # r14-opt (guide §2.4): the degenerate-bucket cap is a count
    # window riding the candidate join's own (band, bucket) key
    # (identical surviving rows: keep sz ≤ max_bucket ≡ anti-join
    # against sz > max_bucket) — one banding pass + one exchange where
    # the r13 shape ran the posexplode + band hashing in FOUR branches
    # (bucket-size aggregate, anti-join left side, both join sides).
    # A sortWithinPartitions+persist of the capped table was tried and
    # REVERTED (interleaved min-of-4 A/B at sf0.1: window-only 1.88 s,
    # +sort+persist 1.91 s, r13 agg+anti-join 2.07 s — materializing
    # the bands×-exploded cache costs more than recomputing the two
    # join-side projections from the signature cache, and would be a
    # memory liability at scale).
    if max_bucket is not None:
        wsz = Window.partitionBy("band", "bucket")
        banded = banded.withColumn(
            "sz", F.count(F.lit(1)).over(wsz)
        ).filter(F.col("sz") <= max_bucket).drop("sz")
    a = banded.select("band", "bucket", F.col("doc").alias("doc_a"))
    b = banded.select("band", "bucket", F.col("doc").alias("doc_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_candidates_scoped(
    signatures: DataFrame,
    scope_cols: list[str],
    *,
    bands: int,
    rows_per_band: int,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """:func:`minhash_lsh_candidates` with a SEMANTIC SCOPE: candidate
    pairs must share ≥1 band bucket AND every ``scope_cols`` value
    (language, source, license tier, …). The scope rides the band-join
    KEY — never a post-filter — so the shuffle only co-locates rows
    that could legally pair: at 100 TB scoping both shrinks the
    buckets (an identical boilerplate page in 40 languages stops being
    one 40×-quadratic bucket) and removes the cross-scope candidate
    tail before it is ever materialized. Output keeps the scope
    columns (identical on both sides by construction)."""
    key = ["band", "bucket", *scope_cols]
    banded = signatures.select(
        "doc",
        *scope_cols,
        F.posexplode(
            F.array(
                *[
                    F.hash(F.slice("signature", k * rows_per_band + 1, rows_per_band))
                    for k in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # r14-opt: same single-pass window cap as
    # :func:`minhash_lsh_candidates` (see the comment there — the
    # sort+persist arm was measured and REVERTED; on the uncapped
    # path used by corpus_minhash_semantic_scope, a repartition+
    # sort+persist of the banded table A/B'd 2.50 s vs 1.74 s for the
    # plain recompute-per-side shape), with the scope columns folded
    # into the partitioning key.
    if max_bucket is not None:
        wsz = Window.partitionBy(*key)
        banded = banded.withColumn(
            "sz", F.count(F.lit(1)).over(wsz)
        ).filter(F.col("sz") <= max_bucket).drop("sz")
    a = banded.select(*key, F.col("doc").alias("doc_a"))
    b = banded.select("band", "bucket", *scope_cols, F.col("doc").alias("doc_b"))
    return (
        a.join(b, key)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *scope_cols)
        .distinct()
    )


def estimated_jaccard_udf():
    """Vectorized pair-signature agreement: one numpy comparison per
    Arrow batch — the join-safe verify kernel for the LSH path."""
    import numpy as np

    @F.pandas_udf("double")
    def _est(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for sa, sb in it:
            if len(sa) == 0:
                yield pd.Series([], dtype="float64")
                continue
            A = np.stack([np.asarray(s, dtype=np.int64) for s in sa])
            B = np.stack([np.asarray(s, dtype=np.int64) for s in sb])
            # No rounding: k/num_hashes is one correctly-rounded double
            # division of exact integers, so the value is bit-identical
            # to the oracle's len(filter)/H on any engine.
            yield pd.Series((A == B).mean(axis=1))

    # guide-§4.4 marker: the estimate is always thresholded right
    # above; stop the pushed filter re-evaluating the kernel.
    return _est.asNondeterministic()


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 128,
    shingle_n: int = 3,
    bands: int = 32,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs: MinHash signatures → LSH banding → estimated
    Jaccard ≥ threshold. Returns (doc_a, doc_b, est_jaccard)."""
    assert num_hashes % bands == 0
    # Signatures feed three plan branches (banding + both pair sides):
    # persist so the scan+shingle+hash work runs once, not three times.
    # count() materializes the cache eagerly — otherwise the three
    # consuming stages are submitted concurrently and each recomputes
    # the signature UDF before any block lands in the cache.
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n, seed=seed
    ).persist()
    sigs.count()
    cands = minhash_lsh_candidates(
        sigs, bands=bands, rows_per_band=num_hashes // bands
    )
    sa = sigs.select(F.col("doc").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = estimated_jaccard_udf()
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: (doc_id,
    component_id, is_canonical) where component_id = min doc id
    reachable through the pair graph and the canonical member is the
    one to keep.

    Min-label propagation: each round joins labels onto edges and takes
    the neighborhood minimum, stopping at fixpoint (2 shuffles/round,
    convergence in O(component diameter) rounds). Near-dup graphs are
    unions of small dense cliques, so 2-4 rounds in practice; a
    pathological long-path graph would want the alternating
    large-star/small-star algorithm (Kiveris et al.) — documented
    trade-off, same join primitives.
    """
    # r14-opt (guide §5): symmetrize via ONE explode instead of
    # union(edges, edges.swapped) — the union form consumed the pairs
    # lineage twice, and building this very cache re-ran the caller's
    # whole pair-generation (shingle/LSH/cosine-verify Python kernels)
    # once per union branch. Row-identical: explode emits exactly
    # {(x,y), (y,x)} per input pair before the same distinct.
    edges = (
        pairs.select(F.col(id_a).alias("x"), F.col(id_b).alias("y"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("x"), F.col("y")),
                    F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
                )
            ).alias("e")
        )
        .select("e.x", "e.y")
        .distinct()
        .persist()
    )
    edges.count()  # eager: edges feed every iteration's join
    labels = edges.select("x").distinct().withColumn("label", F.col("x")).persist()
    labels.count()
    for _ in range(max_iter):
        prop = (
            edges.join(labels, "x")
            .groupBy(F.col("y").alias("x"))
            .agg(F.min("label").alias("nbr"))
        )
        new_labels = (
            labels.join(prop, "x", "left")
            .select(
                "x",
                F.least(F.col("label"), F.coalesce("nbr", "label")).alias("label"),
            )
            .persist()
        )
        new_labels.count()
        changed = (
            new_labels.withColumnRenamed("label", "new")
            .join(labels, "x")
            .filter(F.col("new") < F.col("label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("x").alias("doc_id"),
        F.col("label").alias("component_id"),
        (F.col("x") == F.col("label")).alias("is_canonical"),
    )


def connected_components_incremental(
    labels: DataFrame,
    new_pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    comp_col: str = "component_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Merge a NEW batch of near-dup pairs into EXISTING cluster labels
    without recomputing the old graph — the cluster-maintenance half of
    continuous ingest (:func:`minhash_incremental_flags` generates the
    new-batch candidate pairs; this folds them into the standing
    clusters).

    Key identity: with min-label components, the prior labels capture
    old connectivity COMPLETELY — every old node is connected to its
    component id (the component's min member) — so the merged
    clustering equals plain :func:`connected_components` over the
    STAR edges (doc_id → component_id, one per previously-labeled
    node) unioned with the new pairs. The old pair set — the expensive
    O(candidates) object — is never touched again, and the star graph
    has diameter 2, so propagation converges in a handful of rounds
    regardless of how deep the original merge history is.

    Output contract matches :func:`connected_components`: (doc_id,
    component_id, is_canonical) over labels' nodes ∪ new_pairs' nodes;
    the merged result is IDENTICAL to a from-scratch recompute over
    old ∪ new pairs (oracle-checked by `dedup_clusters_incremental`,
    which reuses the full-recompute recursive CTE verbatim).
    """
    # labels typically arrive from a prior iterative resolve whose plan
    # is rounds deep; composing a SECOND iterative loop on top of that
    # lineage makes the combined tree grow multiplicatively per round
    # (observed: OOM in plan-string generation alone). localCheckpoint
    # truncates the input lineage so the merge plans like a fresh run.
    star = labels.select(
        F.col(id_col).alias(id_a), F.col(comp_col).alias(id_b)
    ).localCheckpoint()
    edges = star.unionByName(new_pairs.select(id_a, id_b))
    return connected_components(edges, id_a, id_b, max_iter=max_iter)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, simhash long): 64-bit SimHash over token hashes.

    Tokenize, hash, and the 64-lane bit-count fold all run in ONE
    Arrow-batched pandas UDF (numpy broadcast per document) — keeping
    token hashing out of JVM expression land for the same
    filter-pushdown reason as :func:`shingle_hashes`.
    """
    import numpy as np

    lanes = np.arange(64, dtype=np.uint64)

    @F.pandas_udf("long")
    def _simhash(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            out = np.zeros(len(texts), dtype=np.int64)
            for i, t in enumerate(texts):
                toks = t.split() if t else []
                if not toks:
                    continue
                arr = np.fromiter(
                    (_hash64(tok) for tok in toks), dtype=np.int64, count=len(toks)
                ).astype(np.uint64)
                bits = ((arr[:, None] >> lanes) & 1).astype(np.int64)
                votes = (2 * bits - 1).sum(axis=0)
                out[i] = np.int64(
                    np.bitwise_or.reduce(
                        (votes > 0).astype(np.uint64) << lanes
                    ).astype(np.int64)
                )
            yield pd.Series(out)

    hashed = ensure_min_parallelism(df.select(id_col, text_col))
    # guide-§4.4 marker: join-key isnotnull constraints inferred above
    # the chunk explode otherwise push below and duplicate the kernel.
    return hashed.select(
        F.col(id_col).alias("doc"),
        _simhash.asNondeterministic()(F.col(text_col)).alias("simhash"),
    )


def simhash_near_pairs(
    sim: DataFrame, *, max_hamming: int = 3, max_bucket: int | None = 1000
) -> DataFrame:
    """Pairs within hamming distance ≤ max_hamming of the 64-bit SimHash.

    Pigeonhole blocking: split 64 bits into 8 chunks of 8; any pair
    with ≤7 differing bits agrees on ≥1 chunk, so joining on
    (chunk_idx, chunk_value) finds all such pairs without a cross
    join. Recall is exact for ``max_hamming ≤ 7`` (asserted) — the
    blocking guarantee and the caller's threshold can't silently
    disagree. The finer 8-bit chunks roughly double the exploded rows
    vs 16-bit chunks but keep bucket sizes smaller (2^8 value space per
    chunk is still uniform under hashing), and the join stays linear in
    candidate count either way.
    """
    if max_hamming > 7:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 8-chunk pigeonhole "
            "guarantee (<=7); pairs differing in all 8 chunks would be "
            "silently missed"
        )
    chunks = sim.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.shiftrightunsigned("simhash", 8 * k).bitwiseAND(F.lit(0xFF)))
                    for k in range(8)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    # r14-opt: same single-pass degenerate-bucket cap as
    # :func:`minhash_lsh_candidates` — window count in place of the
    # bucket-size aggregate + anti-join (identical surviving rows),
    # riding the candidate join's own (chunk_idx, chunk_val) key.
    if max_bucket is not None:
        wsz = Window.partitionBy("chunk_idx", "chunk_val")
        chunks = chunks.withColumn(
            "sz", F.count(F.lit(1)).over(wsz)
        ).filter(F.col("sz") <= max_bucket).drop("sz")
    a = chunks.select(
        "chunk_idx", "chunk_val", F.col("doc").alias("doc_a"), F.col("simhash").alias("sim_a")
    )
    b = chunks.select(
        "chunk_idx", "chunk_val", F.col("doc").alias("doc_b"), F.col("simhash").alias("sim_b")
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def duplicated_window_stats(
    docs: DataFrame, text_col: str, id_col: str, *, k: int = 5
) -> DataFrame:
    """Exact-substring duplication profile (the detection half of Lee
    et al., arxiv:2107.06499 — "dedup exact substrings of ≥N tokens",
    with overlapping stride-1 windows standing in for the suffix
    array): every k-token window is hashed, windows whose exact text
    occurs more than once corpus-wide are duplicated, and each document
    reports its duplicated-window fraction — the signal a pipeline
    thresholds to drop or trim boilerplate-heavy documents.

    Returns (id, n_windows, n_dup_windows, dup_window_fraction); docs
    shorter than ``k`` tokens have no windows and drop out.

    Scale shape: one doc-keyed window shuffle builds stride-1 k-grams
    (lead chain — tokens never inflate k-fold: each row carries one
    token through the shuffle and the k-gram is assembled from leads),
    then the window table is persisted (eager count — it feeds the
    corpus count AND the join, the AQE cache-race rule), counted by
    content hash (uniform shuffle key, partial agg absorbs hot
    windows), and joined back on that hash — a shuffle join with one
    count row per hash, so AQE's skew split handles a pathological
    all-identical corpus. Final per-doc aggregate is a fourth
    uniform-key shuffle.
    """
    did = F.col(id_col)
    toks = docs.select(
        did, F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    kg = (
        toks.select(did, F.concat_ws(" ", *parts).alias("kgram"), parts[-1].alias("_last"))
        .filter(F.col("_last").isNotNull())
        .select(did, F.md5(F.col("kgram")).alias("h"))
        .persist()
    )
    kg.count()  # eager: kg feeds the corpus count and the join
    counts = kg.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    n_dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return (
        kg.join(counts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            n_dup.cast("bigint").alias("n_dup_windows"),
            F.round(
                n_dup / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_window_fraction"),
        )
    )


def source_overlap(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    how many distinct exact k-token windows both contain — the "where
    do my duplicates come from" audit a pipeline runs before choosing
    mixture weights or dedup scope (e.g. a crawl snapshot that heavily
    overlaps a curated set should be deduplicated against it, not
    sampled independently).

    Returns (source_a, source_b, n_shared_windows) with source_a <
    source_b.

    Scale shape: the window table collapses to DISTINCT (source, hash)
    — bounded by sources × distinct windows, far below the token
    stream — and persists eagerly (it feeds both sides of the
    self-join). The join key is the content hash; per-hash fan-out is
    capped at n_sources² (sources are a dimension, not data), so the
    self-join can never go quadratic in corpus size. Output is
    n_sources², a dimension-sized matrix.
    """
    toks = docs.select(
        F.col(source_col).alias("src"),
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    kg = (
        toks.select(
            F.col("src"),
            F.concat_ws(" ", *parts).alias("kgram"),
            parts[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("src", F.md5(F.col("kgram")).alias("h"))
        .distinct()
        .persist()
    )
    kg.count()  # eager: kg feeds both sides of the self-join
    a = kg.select(F.col("src").alias("source_a"), "h")
    b = kg.select(F.col("src").alias("source_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_windows"))
    )


def kmv_source_sketches(
    docs: DataFrame,
    text_col: str,
    source_col: str,
    *,
    k: int = 64,
) -> DataFrame:
    """Per-source KMV (bottom-k minimum values) distinct sketch: the k
    lexicographically-smallest md5 content hashes of each source's
    distinct documents. The md5 hex string IS the priority — lowercase
    hex compares identically (ASCII = numeric order of the 128-bit
    digest) in every engine, so the sketch is deterministic and
    SQL-replayable with no seeded state at all.

    Unlike HLL, KMV sketches support SET ALGEBRA: the union of two
    sketches' bottom-k is a valid sketch of the union, and membership
    of a hash in both sketches estimates the intersection — the
    cross-source overlap question (:func:`kmv_source_overlap`) that
    mergeable cardinality sketches alone cannot answer.

    Scale shape: one distinct over (source, hash) — uniform-key, the
    same shuffle :func:`dedup_exact` pays — then a per-source bottom-k
    rank filter that WindowGroupLimit pushes below the sort, so each
    source contributes k rows no matter how many documents it has. The
    output is dimension-sized (sources × k) and everything downstream
    of it is sketch arithmetic, never corpus data.
    """
    m = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(source_col).alias("source"), F.md5(F.col(text_col)).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    return m.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def kmv_cardinality(
    docs: DataFrame,
    text_col: str,
    source_col: str,
    *,
    k: int = 64,
) -> DataFrame:
    """Per-source distinct-document ESTIMATE from the KMV sketch —
    the mergeable COUNT(DISTINCT) that needs only k rows of state per
    source: exact while the sketch is unsaturated (< k distinct
    members means the sketch IS the full set), and ``(k-1)/u_k``
    (u_k = the k-th smallest hash's 48-bit prefix mapped into (0,1))
    once it saturates. Same deterministic md5-hex priorities as
    :func:`kmv_source_sketches`, so the "approximate" estimate is
    bit-identical across engines and across merge orders — the
    bottom-k of a union is the bottom-k of the bottom-k's, which is
    what lets per-day or per-batch sketches roll up
    (:func:`hadoopxmlextractor_spark.streaming.dedup.kmv_cardinality_stream`
    maintains exactly this state across micro-batches).

    Saturation requires OBSERVING a (k+1)-th distinct value: a source
    with exactly k distinct documents has a complete sketch that
    proves the exact count k, so the estimator only engages once the
    bottom-(k+1) rank shows a value beyond the sketch — one extra
    tracked row per source, and the estimate stays exact for the
    longest provable prefix.
    """
    sk = kmv_source_sketches(docs, text_col, source_col, k=k + 1)
    w = Window.partitionBy("source").orderBy("h")
    ranked = sk.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("source").agg(
        F.sum(F.when(F.col("rn") <= k, 1).otherwise(0))
        .cast("long")
        .alias("n_sketch"),
        F.max(
            F.when(
                F.col("rn") <= k,
                F.conv(F.substring("h", 1, 12), 16, 10).cast("long"),
            )
        ).alias("p48_k"),
        (F.max("rn") > k).alias("saturated"),
    )
    return agg.select(
        "source",
        "n_sketch",
        F.when(
            F.col("saturated"),
            (F.lit(float(k)) - F.lit(1.0))
            / (F.col("p48_k").cast("double") / F.lit(281474976710656.0)),
        )
        .otherwise(F.col("n_sketch").cast("double"))
        .alias("distinct_est"),
        "saturated",
    )


def kmv_source_overlap(
    docs: DataFrame,
    text_col: str,
    source_col: str,
    *,
    k: int = 64,
) -> DataFrame:
    """Cross-source overlap ESTIMATES from KMV sketches — the O(k) per
    source answer to the question :func:`source_overlap` computes
    exactly with a full self-join. At 100 TB the sketches are built
    once per ingest (sources × k rows) and every pairwise overlap
    readout after that touches no corpus data at all.

    For each source pair (a < b): merge the two sketches, keep the
    bottom-K of the union (K = min(k, |union|)), and count members
    present in BOTH sketches. Estimators (Beyer et al., standard KMV):
    ``jaccard_est = n_common / K``; ``union_est = (k-1) / u_k`` when
    the union sketch saturates (u_k = the K-th smallest hash mapped to
    (0,1) via its 48-bit prefix) and the EXACT union count when it
    does not (both sketches complete ⇒ sketch = full set);
    ``inter_est = jaccard_est · union_est``. Every branch is integer
    counts plus one fixed-order double expression, so the estimate is
    bit-identical across engines despite being "approximate" — the
    approximation is in the sampling, not the arithmetic.

    Plan shape: sketches localCheckpoint eagerly (sources × k rows
    feed the pair expansion twice); the pair table is sources², the
    merged-member table sources² × 2k — all dimension-sized, broadcast
    everywhere, zero additional corpus scans.
    """
    sk = kmv_source_sketches(docs, text_col, source_col, k=k).localCheckpoint(
        eager=True
    )
    srcs = sk.select("source").distinct()
    pairs = srcs.select(F.col("source").alias("source_a")).join(
        F.broadcast(srcs.select(F.col("source").alias("source_b"))),
        F.col("source_a") < F.col("source_b"),
    )
    pm = (
        pairs.join(
            F.broadcast(sk.withColumnRenamed("source", "s")),
            (F.col("s") == F.col("source_a")) | (F.col("s") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "h")
        .agg(
            F.max(
                F.when(F.col("s") == F.col("source_a"), 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("s") == F.col("source_b"), 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    rw = Window.partitionBy("source_a", "source_b").orderBy("h")
    r = pm.withColumn("rn", F.row_number().over(rw)).withColumn(
        "p48", F.conv(F.substring("h", 1, 12), 16, 10).cast("long")
    )
    agg = r.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("rn") <= k, 1).otherwise(0)).cast("long").alias("k_used"),
        F.sum(F.when(F.col("rn") <= k, F.col("in_a") * F.col("in_b")).otherwise(0))
        .cast("long")
        .alias("n_common"),
        F.max(F.when(F.col("rn") <= k, F.col("p48"))).alias("p48_k"),
    )
    est = agg.select(
        "source_a",
        "source_b",
        "k_used",
        "n_common",
        F.when(
            F.col("n_all") >= k,
            (F.lit(float(k)) - F.lit(1.0))
            / (F.col("p48_k").cast("double") / F.lit(281474976710656.0)),
        )
        .otherwise(F.col("k_used").cast("double"))
        .alias("union_est"),
        (F.col("n_common").cast("double") / F.col("k_used").cast("double")).alias(
            "jaccard_est"
        ),
    )
    return est.withColumn("inter_est", F.col("jaccard_est") * F.col("union_est"))


def minhash_incremental_flags(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    incoming_col: str,
    *,
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Incremental NEAR-dup ingestion check — the fuzzy twin of the
    exact content-hash incremental dedup: every INCOMING document
    (rows where ``incoming_col`` is true) is probed against the
    existing corpus's LSH index AND against earlier documents of its
    own batch, via the same deterministic MinHash/banding machinery as
    :func:`dedup_minhash_lsh`.

    Returns one row per incoming document:
    (doc, near_dup_of_corpus, near_dup_in_batch) — in-batch flags are
    first-wins (only the LATER doc of a pair is flagged), so a batch
    of mutual near-dups keeps exactly its earliest member, matching
    the exact-dedup convention.

    Scale shape: at 100 TB the corpus's banded buckets are a persisted,
    bucket-partitioned index on disk; the probe joins only the batch's
    bucket keys against it — the full corpus×corpus pair problem never
    recurs on ingestion (the property that makes continuous ingestion
    affordable). Signatures persist eagerly (they feed the banding and
    both verify sides); the bucket join shuffles on uniform hash keys
    with the same ``max_bucket`` degenerate guard as the batch
    operator.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = (
        minhash_signatures(
            docs, text_col, id_col, num_hashes=num_hashes, shingle_n=shingle_n, seed=seed
        )
        .join(
            docs.select(
                F.col(id_col).alias("doc"), F.col(incoming_col).alias("incoming")
            ),
            "doc",
        )
        .persist()
    )
    sigs.count()  # eager: feeds banding + both verify sides + the output spine
    banded = sigs.select(
        "doc",
        "incoming",
        F.posexplode(
            F.array(
                *[
                    F.hash(F.slice("signature", k * rows_per_band + 1, rows_per_band))
                    for k in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # r14-opt: same single-pass degenerate-bucket window cap as
    # :func:`minhash_lsh_candidates` (the sort+persist arm was
    # measured and REVERTED there; the probe/index sides recompute
    # two cheap projections from the signature cache instead).
    if max_bucket is not None:
        wsz = Window.partitionBy("band", "bucket")
        banded = banded.withColumn(
            "sz", F.count(F.lit(1)).over(wsz)
        ).filter(F.col("sz") <= max_bucket).drop("sz")
    probe = banded.filter(F.col("incoming")).select(
        "band", "bucket", F.col("doc").alias("doc_a")
    )
    index = banded.select(
        "band", "bucket", F.col("doc").alias("doc_b"), F.col("incoming").alias("inc_b")
    )
    cands = (
        probe.join(index, ["band", "bucket"])
        .filter((~F.col("inc_b")) | (F.col("doc_b") < F.col("doc_a")))
        .select("doc_a", "doc_b", "inc_b")
        .distinct()
    )
    sa = sigs.select(F.col("doc").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = estimated_jaccard_udf()
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est", est(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("est") >= threshold)
    )
    flags = verified.groupBy("doc_a").agg(
        F.max(~F.col("inc_b")).alias("_corpus_hit"),
        F.max(F.col("inc_b")).alias("_batch_hit"),
    )
    batch = sigs.filter(F.col("incoming")).select("doc")
    return batch.join(flags, batch["doc"] == flags["doc_a"], "left").select(
        "doc",
        F.coalesce(F.col("_corpus_hit"), F.lit(False)).alias("near_dup_of_corpus"),
        F.coalesce(F.col("_batch_hit"), F.lit(False)).alias("near_dup_in_batch"),
    )


def _canon_edges(E: DataFrame) -> DataFrame:
    return (
        E.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_stars(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    *,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the O(log² n)-round algorithm that stays fast on
    PATHOLOGICAL diameters where min-label propagation
    (:func:`connected_components`) needs O(diameter) rounds and can
    silently stop at ``max_iter`` un-converged on a long chain.

    large-star(u): every neighbor v > u re-attaches to m = min(Γ⁺(u));
    small-star(u, over edges oriented larger→smaller): every neighbor
    (all ≤ u) plus u itself attaches to m. Both are one groupBy + one
    join per round (2 shuffles, uniform id keys); at the fixpoint the
    edge set IS the component star (child → min root). Near-dup
    graphs (unions of cliques) converge in 1-2 rounds, a 300-node
    chain in ~5 — that worst case is why this variant exists.

    Same output contract as :func:`connected_components`:
    (doc_id, component_id, is_canonical) over nodes present in
    ``pairs``; raises if the fixpoint is not reached (never returns
    silently-wrong labels).
    """
    # localCheckpoint (eager) after every round: iterative DataFrame
    # algorithms otherwise stack union+join+distinct lineage per round
    # and the PLAN ITSELF grows exponentially (observed: driver OOM
    # from TreeNode.toString before any data moved). Checkpointing
    # truncates the plan to the materialized RDD; on a cluster use
    # reliable checkpointing if executor loss must be survivable.
    E = _canon_edges(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    ).localCheckpoint(eager=True)
    if not E.head(1):
        return E.select(
            F.col("u").alias("doc_id"),
            F.col("v").alias("component_id"),
            F.lit(True).alias("is_canonical"),
        )

    def checksum(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # full-range int64 hashes overflow an ANSI long sum —
            # accumulate in decimal (order-independent, exact)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = checksum(E)
    for _ in range(max_iter):
        # large-star over the undirected neighborhood
        und = E.union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        large = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over larger→smaller oriented edges
        ori = _canon_edges(large)
        mins2 = (
            ori.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        small = (
            ori.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .union(mins2.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
        )
        newE = _canon_edges(small).localCheckpoint(eager=True)
        cur = checksum(newE)
        E = newE
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_stars did not converge in {max_iter} rounds"
        )
    # fixpoint: E = (child, root) star edges
    labels = E.select(
        F.col("u").alias("doc_id"), F.col("v").alias("component_id")
    ).union(
        E.select(F.col("v").alias("doc_id"), F.col("v").alias("component_id"))
    ).distinct()
    return labels.select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph
# ---------------------------------------------------------------------------


def pagerank(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    *,
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Damped PageRank (d = 0.85) over the undirected near-dup pair
    graph: (doc_id, degree, rank_fp). High-rank nodes are the HUBS of
    a duplication family — the boilerplate templates everything else
    is a near-copy of — which is the member you want to inspect (or
    keep) when resolving a cluster, versus the arbitrary min-id pick
    of :func:`connected_components`.

    All arithmetic is BIGINT fixed-point (``scale`` = 1e12) with floor
    division and a FIXED iteration count, so the result is bit-exact
    on any engine: the DuckDB oracle replays the same rounds as
    unrolled CTEs.  Per round::

        contrib(u) = r(u) div degree(u)
        r'(v)      = (0.15 * scale) + (85 * sum_in(v)) div 100

    Every node of the symmetrized graph has degree >= 1, so there are
    no dangling nodes and total mass stays ~ scale * |V|; with the
    default scale the ``85 * sum_in`` product is overflow-safe (ANSI
    mode would error, not wrap) up to ~1e5 mass concentrating on one
    node — drop ``scale`` to 1e9 for billion-node graphs.

    Scale: 2 shuffles/round (edges join + incoming-sum groupBy), both
    on uniform doc-id keys; edges and degrees are computed once and
    persisted. The dup graph is orders of magnitude smaller than the
    corpus, and rounds are fixed (not diameter-bound), so the plan is
    flat at 100 TB. localCheckpoint per round truncates the lineage
    like :func:`connected_components_stars`.
    """
    base = (15 * scale) // 100
    # r15 opt: symmetrize via ONE explode (the connected_components
    # r14 pattern) — the union form consumed the caller's pair
    # lineage once per branch while building this cache.
    edges = (
        pairs.select(F.col(id_a).alias("x"), F.col(id_b).alias("y"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("x"), F.col("y")),
                    F.struct(F.col("y").alias("x"), F.col("x").alias("y")),
                )
            ).alias("e")
        )
        .select("e.x", "e.y")
        .distinct()
        .persist()
    )
    edges.count()  # eager: feeds every round's join
    deg = edges.groupBy("x").agg(F.count(F.lit(1)).alias("d")).persist()
    deg.count()
    ranks = deg.withColumn("r", F.lit(scale).cast("long"))
    for _ in range(iterations):
        contrib = ranks.select("x", F.expr("r div d").alias("c"))
        incoming = (
            edges.join(contrib, "x")
            .groupBy(F.col("y").alias("x"))
            .agg(F.sum("c").alias("s"))
        )
        # inner join is total: symmetrization gives every node >= 1
        # in-edge, so no node loses its rank row.
        ranks = (
            deg.join(incoming, "x")
            .select(
                "x",
                "d",
                (F.lit(base) + F.expr("(85 * s) div 100")).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    edges.unpersist()
    deg.unpersist()
    return ranks.select(
        F.col("x").alias("doc_id"),
        F.col("d").cast("bigint").alias("degree"),
        F.col("r").cast("bigint").alias("rank_fp"),
    )


def ngram_containment_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | float | None = "auto",
    candidate_budget: int | None = "auto",
) -> DataFrame:
    """DIRECTED containment edges ``(container, contained)``: one edge
    whenever ≥ ``threshold`` of the contained side's shingles appear
    in the container (both edges for mutual near-copies). The directed
    form :func:`ngram_containment_pairs` collapses — needed by
    link-analysis over the quotation graph (:func:`hits`), where "B
    quotes A" and "A quotes B" are different facts. Same inverted
    index, same skew guards (including the fail-fast candidate budget).
    """
    # the inverted-index pair join is the expensive half and BOTH
    # directed filters read it — materialize it once (pair-table-sized)
    # instead of letting the union recompute the join per branch
    pc = _ngram_pair_counts(
        df, text_col, id_col, n=n, max_df=max_df,
        candidate_budget=candidate_budget,
    ).localCheckpoint(eager=True)
    a_in_b = pc.filter(
        F.round(F.col("shared") / F.col("size_a"), 4) >= threshold
    ).select(F.col("doc_b").alias("container"), F.col("doc_a").alias("contained"))
    b_in_a = pc.filter(
        F.round(F.col("shared") / F.col("size_b"), 4) >= threshold
    ).select(F.col("doc_a").alias("container"), F.col("doc_b").alias("contained"))
    return a_in_b.unionByName(b_in_a)


def hits(
    edges: DataFrame,
    *,
    iterations: int = 4,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED graph, integer-exact:
    on the containment/quotation graph, hubs are the AGGREGATORS
    (documents that quote many others — newsletter digests, scraped
    link-farms) and authorities are the TEMPLATES (content many
    documents carry a copy of). PageRank over the undirected dup graph
    cannot separate the two roles; the separation is what decides
    "keep the template, drop the aggregators" in curation.

    Determinism: the float algorithm's L2 normalization is replaced by
    max-normalization in BIGINT fixed-point — after each half-step,
    ``x := (x_raw * scale) div max(x_raw)`` (floor division, max is a
    unique value so no tie order exists) — and the round count is
    FIXED, so the result is bit-exact on any engine and the DuckDB
    oracle replays the rounds as unrolled MATERIALIZED CTEs. Rankings
    are preserved exactly (max-normalization is monotone); only the
    scale of the scores differs from the textbook variant.

    Scale: the graph is pair-table-sized, orders below the corpus.
    Per round: two edge joins + two id-keyed aggregates (uniform keys)
    + two single-row maxes broadcast back (the tiny-row crossJoin
    idiom); localCheckpoint per round keeps the plan flat. With
    ``scale`` = 1e6 the ``sum × scale`` products stay in BIGINT up to
    ~9e6 in-degree — far past any df-capped containment graph.
    """
    e = edges.select(
        F.col("container").alias("u"), F.col("contained").alias("v")
    ).distinct().persist()
    e.count()  # eager: feeds every round twice
    nodes = (
        e.select(F.col("u").alias("x"))
        .union(e.select(F.col("v").alias("x")))
        .distinct()
        .persist()
    )
    nodes.count()
    state = nodes.select(
        "x", F.lit(scale).cast("long").alias("h"), F.lit(0).cast("long").alias("a")
    )
    for _ in range(iterations):
        a_raw = (
            e.join(state.select(F.col("x").alias("u"), "h"), "u")
            .groupBy(F.col("v").alias("x"))
            .agg(F.sum("h").alias("ar"))
        )
        # r15 opt (VERDICT item 6): each half-step is CHECKPOINTED
        # before its max is taken — previously the max's
        # BroadcastExchange subjob re-ran the half-step's whole
        # edge-join+aggregate lineage, and the round's final
        # checkpoint ran it a third time (a-half ×3, h-half ×2 per
        # round). Now each half-step executes once and both the max
        # subjob and the round checkpoint read the materialized rows
        # (interleaved A/B on dedup_graph_hits at sf0.01:
        # 7.93 → 5.84 s min-of-3, rows identical).
        a_all = (
            nodes.join(a_raw, "x", "left")
            .select("x", F.coalesce(F.col("ar"), F.lit(0)).alias("ar"))
            .localCheckpoint(eager=True)
        )
        amax = a_all.agg(F.max("ar").alias("am"))
        a_n = a_all.crossJoin(F.broadcast(amax)).select(
            "x", F.expr("(ar * %d) div am" % scale).alias("a")
        )
        h_raw = (
            e.join(a_n.select(F.col("x").alias("v"), "a"), "v")
            .groupBy(F.col("u").alias("x"))
            .agg(F.sum("a").alias("hr"))
        )
        h_all = (
            nodes.join(h_raw, "x", "left")
            .select("x", F.coalesce(F.col("hr"), F.lit(0)).alias("hr"))
            .localCheckpoint(eager=True)
        )
        hmax = h_all.agg(F.max("hr").alias("hm"))
        h_n = h_all.crossJoin(F.broadcast(hmax)).select(
            "x", F.expr("(hr * %d) div hm" % scale).alias("h")
        )
        state = (
            h_n.join(a_n, "x").select("x", "h", "a").localCheckpoint(eager=True)
        )
    e.unpersist()
    nodes.unpersist()
    return state.select(
        F.col("x").alias("doc_id"),
        F.col("h").cast("bigint").alias("hub_fp"),
        F.col("a").cast("bigint").alias("auth_fp"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter-accelerated incremental dedup
# ---------------------------------------------------------------------------


def _bloom_positions(hex_md5: str, m_bits: int) -> tuple[int, ...]:
    """k=4 bit positions from the four 32-bit words of an md5 hex
    digest — the hash IS the randomness, no extra hashing needed."""
    return tuple(int(hex_md5[i : i + 8], 16) % m_bits for i in (0, 8, 16, 24))


def _bloom_positions_batch(hs, m_bits: int):
    """Vectorized twin of :func:`_bloom_positions` for a whole Arrow
    batch: (n, 4) int64 bit positions from a pandas Series of md5 hex
    strings, with zero per-row Python. The hex decode is numpy all the
    way — fixed-width S32 view → ASCII nibble arithmetic → positional
    16^i dot product per 8-nibble word — and agrees digit-for-digit
    with the scalar ``int(hex[i:i+8], 16) % m_bits`` (pinned by test).
    """
    import numpy as np

    raw = np.frombuffer(
        hs.to_numpy().astype("S32").tobytes(), dtype=np.uint8
    ).reshape(-1, 32)
    # ASCII → nibble: '0'-'9' → 0-9, 'a'-'f' → 10-15 ('A'-'F' safe too)
    nib = np.where(
        raw >= 97, raw - 87, np.where(raw >= 65, raw - 55, raw - 48)
    ).astype(np.int64)
    weights = 16 ** np.arange(7, -1, -1, dtype=np.int64)
    words = (nib.reshape(-1, 4, 8) * weights).sum(axis=2)
    return words % m_bits


def _bloom_bitmap_from_positions(pos, m_bits: int):
    """Little-endian-bit bitmap (byte p>>3, bit p&7) from a flat
    position array — ``np.packbits(bitorder='little')`` reproduces the
    scalar layout ``bm[p >> 3] |= 1 << (p & 7)`` exactly."""
    import numpy as np

    bits = np.zeros(m_bits, dtype=bool)
    bits[pos.ravel()] = True
    return np.packbits(bits, bitorder="little")


def _bloom_test_positions(bm, pos):
    """Vectorized membership test: all-4-bits-set per row of an (n, 4)
    position array against a uint8 bitmap."""
    import numpy as np

    hit = (bm[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)


def bloom_build(hashes: DataFrame, h_col: str, *, m_bits: int = 1 << 17) -> bytes:
    """Build an m-bit Bloom filter over a column of md5-hex hashes,
    distributed: each partition folds its hashes into a local bitmap
    (one Arrow pass), and the partial bitmaps OR-merge EXECUTOR-SIDE
    through a tree reduction — the driver receives only the last
    handful of pre-merged bitmaps (≤4 at depth ≥2), never one per
    partition. At the 100 TB sizing (m ≈ 1e10 bits = 1.25 GB/bitmap)
    a flat collect over hundreds of partitions would OOM the driver;
    the tree caps driver fan-in regardless of partition count.

    A single broadcastable bitmap still caps out around ~1e9 members;
    beyond that use :func:`bloom_build_sharded` /
    :func:`bloom_incremental_flags_sharded`, which never materialize
    any bitmap on the driver at all.
    """
    import numpy as np

    n_bytes = m_bits // 8

    def build(it):
        bm = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in it:
            if len(pdf):
                pos = _bloom_positions_batch(pdf[h_col], m_bits)
                bm |= _bloom_bitmap_from_positions(pos, m_bits)
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    # One Arrow-batched local bitmap per partition, then an associative
    # OR treeReduce: depth scales with partition count so each merge
    # task (and the final driver step) sees a bounded number of bitmaps.
    partials = hashes.select(h_col).mapInPandas(build, "bm binary").rdd.map(
        lambda r: r["bm"]
    )
    n_parts = max(1, partials.getNumPartitions())
    depth = 2 if n_parts <= 64 else 3

    def or_merge(a: bytes, b: bytes) -> bytes:
        return (
            np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)
        ).tobytes()

    if partials.getNumPartitions() == 0:  # zero-partition input: empty
        return bytes(n_bytes)  # filter — no job needed to know that
    return partials.treeReduce(or_merge, depth=depth)


def bloom_incremental_flags(
    corpus_hashes: DataFrame,
    batch: DataFrame,
    h_col: str = "h",
    id_col: str = "doc_id",
    *,
    m_bits: int = 1 << 17,
) -> DataFrame:
    """Incremental ingestion dedup with a Bloom pre-filter: flag each
    batch row as (id, dup_of_corpus, dup_in_batch) against an existing
    corpus content-hash index — same contract and EXACT same result as
    the plain left-join version, because the bloom only routes rows:
    "definitely not in corpus" rows skip the join entirely, "maybe"
    rows are exact-verified by the join, which removes every false
    positive. Correctness therefore never depends on the filter's FP
    rate; only the join size does.

    Scale: this is the standard big-join shrinker — the corpus index
    is read ONCE to build a broadcastable bitmap (m/8 bytes), and the
    batch-vs-corpus shuffle join carries only true-dups + FP rows
    (~|dups| + |batch|·fp) instead of the whole batch. With defaults
    (m = 2^17, k = 4) fp ≈ (1-e^(-4n/m))^4 — under 1% up to ~10k
    corpus members; size m to the corpus (see :func:`bloom_build`).
    """
    bitmap = bloom_build(corpus_hashes, h_col, m_bits=m_bits)
    spark = batch.sparkSession
    bc = spark.sparkContext.broadcast(bitmap)

    @F.pandas_udf("boolean")
    def maybe_in_corpus(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        bm = np.frombuffer(bc.value, dtype=np.uint8)
        for hs in it:
            if len(hs) == 0:
                yield pd.Series([], dtype=bool)
                continue
            pos = _bloom_positions_batch(hs, m_bits)
            yield pd.Series(_bloom_test_positions(bm, pos))

    tagged = batch.withColumn("maybe", maybe_in_corpus(F.col(h_col))).persist()
    tagged.count()  # eager: feeds both the verify branch and the miss branch
    return _flags_from_maybe(tagged, corpus_hashes, h_col, id_col)


def _flags_from_maybe(
    tagged: DataFrame, corpus_hashes: DataFrame, h_col: str, id_col: str
) -> DataFrame:
    """Shared tail of the bloom dedup variants: exact-verify the
    ``maybe`` rows against the corpus index (erasing every bloom false
    positive), route the definite misses around the join, and window
    the in-batch first-wins flag. ``tagged`` must be persisted+counted
    by the caller — it feeds both branches and AQE would otherwise race
    to recompute the probe lineage."""
    corpus = corpus_hashes.select(h_col).distinct().withColumn("corpus_hit", F.lit(True))
    verified = (
        tagged.filter(F.col("maybe"))
        # NO broadcast hint — the corpus index is the big side at scale
        .join(corpus, h_col, "left")
        .select(
            id_col, h_col, F.coalesce("corpus_hit", F.lit(False)).alias("dup_of_corpus")
        )
    )
    misses = tagged.filter(~F.col("maybe")).select(
        id_col, h_col, F.lit(False).alias("dup_of_corpus")
    )
    w = Window.partitionBy(h_col).orderBy(id_col)
    return (
        verified.unionAll(misses)
        .select(
            id_col,
            "dup_of_corpus",
            (F.row_number().over(w) > 1).alias("dup_in_batch"),
        )
    )


def _shard_col(h_col: str, n_shards: int) -> Column:
    """Shard id for an md5-hex hash, via xxhash64 of the hex string —
    deliberately NOT a slice of the md5 words: all four words already
    feed :func:`_bloom_positions`, and sharding on any of them would
    make every member of a shard congruent in that word, degrading one
    of the k bit positions to a stride."""
    return F.pmod(F.xxhash64(F.col(h_col)), F.lit(n_shards)).cast("int")


def bloom_build_sharded(
    corpus_hashes: DataFrame,
    h_col: str,
    *,
    n_shards: int = 64,
    m_bits_per_shard: int = 1 << 11,
) -> DataFrame:
    """Hash-prefix-sharded Bloom filter as a DISTRIBUTED table of
    ``(shard, bm)`` rows — the ≥1e9-member regime where a single
    broadcastable bitmap (1.25 GB at m=1e10) stops fitting. No bitmap
    ever reaches the driver: each shard's bitmap is built by ONE
    applyInPandas task over that shard's hashes (total filter capacity
    = n_shards × m_bits_per_shard, so FP rate matches an equally-sized
    flat filter), and probing joins batch rows to their shard's bitmap
    by the same key. Size n_shards so one shard's bitmap fits a task
    comfortably (e.g. 1e10 total bits across 256 shards = 5 MB/shard);
    at 100 TB the shard key doubles as the on-disk index bucketing, so
    probe shuffles align with the index layout."""
    import numpy as np

    n_bytes = m_bits_per_shard // 8

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pos = _bloom_positions_batch(pdf[h_col], m_bits_per_shard)
        bm = _bloom_bitmap_from_positions(pos, m_bits_per_shard)
        assert len(bm) == n_bytes
        return pd.DataFrame({"bshard": [int(pdf["bshard"].iloc[0])], "bm": [bm.tobytes()]})

    return (
        corpus_hashes.select(F.col(h_col), _shard_col(h_col, n_shards).alias("bshard"))
        .groupBy("bshard")
        .applyInPandas(build, "bshard int, bm binary")
    )


def bloom_incremental_flags_sharded(
    corpus_hashes: DataFrame,
    batch: DataFrame,
    h_col: str = "h",
    id_col: str = "doc_id",
    *,
    n_shards: int = 64,
    m_bits_per_shard: int = 1 << 11,
) -> DataFrame:
    """Incremental dedup with the SHARDED bloom pre-filter — identical
    contract and exact same result as :func:`bloom_incremental_flags`
    (the verify join erases every false positive), but built for the
    regime where the filter itself is too big to broadcast: per-shard
    bitmaps stay distributed (:func:`bloom_build_sharded`) and the
    batch probes them via a shard-keyed cogroup — each task sees one
    shard's batch rows plus that shard's single bitmap row, so the
    probe is one batch-sized shuffle on the shard key and the bitmap
    bytes are never replicated per row (a broadcast-join probe would
    ship m/n_shards bytes into every row's Arrow batch).
    """
    import numpy as np

    blooms = bloom_build_sharded(
        corpus_hashes, h_col, n_shards=n_shards, m_bits_per_shard=m_bits_per_shard
    )

    id_field = batch.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, {h_col} string, maybe boolean"
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame({id_col: [], h_col: [], "maybe": []})
        if right.empty:  # shard with no corpus members: definite miss
            maybe = [False] * len(left)
        else:
            bm = np.frombuffer(right["bm"].iloc[0], dtype=np.uint8)
            pos = _bloom_positions_batch(left[h_col], m_bits_per_shard)
            maybe = _bloom_test_positions(bm, pos)
        return pd.DataFrame(
            {id_col: left[id_col], h_col: left[h_col], "maybe": maybe}
        )

    # cogroup keys: batch shard vs bloom "bshard" — the bloom side's
    # columns are born fresh from its applyInPandas schema, so the
    # same-scan expression-id dedup hazard (CLAUDE.md) can't collapse
    # the right side even when corpus and batch share one scan.
    tagged = (
        batch.select(id_col, h_col)
        .withColumn("shard", _shard_col(h_col, n_shards))
        .groupBy("shard")
        .cogroup(blooms.groupBy("bshard"))
        .applyInPandas(lambda left, right: probe(left, right), out_schema)
        .persist()
    )
    tagged.count()  # eager: feeds both the verify branch and the miss branch
    return _flags_from_maybe(tagged, corpus_hashes, h_col, id_col)


# ---------------------------------------------------------------------------
# Sorted-neighborhood (blocked SNM) dedup
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    block_prefix: int = 12,
    window: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood-method near-dup pairs (Hernandez & Stolfo
    '95, the classic entity-resolution blocking alternative to LSH):
    sort documents by a content-derived key, slide a fixed window down
    the sorted order, and exact-verify only window-adjacent pairs.
    Complements the MinHash/SimHash family — SNM catches PREFIX
    near-dups (boilerplate headers, re-crawls with appended footers,
    versioned documents) with one sort instead of signature machinery,
    and its candidate count is exactly ``(window-1) * n`` regardless
    of similarity distribution.

    Shape at scale: blocking key = first ``block_prefix`` chars of the
    normalized text, so the sort is a per-block window (hash-partitioned
    on the block, NO global single-partition sort); within a block the
    (sort_key, id) order is total, so the pairing is deterministic.
    The window LEADs carry (id, text) for the next ``window-1``
    neighbors in ONE window pass (array-of-structs + explode — not a
    per-distance union, which would recompute the window per branch);
    Jaccard verification is JVM array expressions (array_intersect on
    distinct tokens), no Python. A pathological hot block serializes
    one task — mitigated the standard SNM way: tighter ``block_prefix``
    or multi-pass with a second key (SCALE.md).

    Returns ``(doc_a, doc_b, dist, jaccard)`` with doc_a < doc_b, dist
    = neighbor distance in sort order (1..window-1), jaccard rounded
    to 4 digits, filtered to ``>= threshold``. Empty/whitespace-only
    texts are dropped (0/0 division semantics differ across engines).
    """
    sk = F.lower(F.trim(F.col(text_col)))
    keyed = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            sk.alias("sk"),
        )
        .withColumn("blk", F.substring("sk", 1, block_prefix))
    )
    w = Window.partitionBy("blk").orderBy("sk", "doc_id")
    nbrs = F.array(
        *[
            F.struct(
                F.lead("doc_id", i).over(w).alias("nid"),
                F.lead("text", i).over(w).alias("ntx"),
                F.lit(i).alias("dist"),
            )
            for i in range(1, window)
        ]
    )
    # window expressions are not allowed inside a generator — project
    # the lead array first, then explode the materialized column
    led = keyed.select("doc_id", "text", nbrs.alias("nbrs"))
    cand = (
        led.withColumn("nbr", F.explode("nbrs"))
        .filter(F.col("nbr.nid").isNotNull())
        .select(
            "doc_id",
            "text",
            F.col("nbr.nid").alias("nid"),
            F.col("nbr.ntx").alias("ntx"),
            F.col("nbr.dist").alias("dist"),
        )
    )
    wa = F.array_distinct(tokens(F.col("text")))
    wb = F.array_distinct(tokens(F.col("ntx")))
    shared = F.size(F.array_intersect(wa, wb))
    jac = F.round(shared / (F.size(wa) + F.size(wb) - shared), 4)
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.least("doc_id", "nid").alias("doc_a"),
            F.greatest("doc_id", "nid").alias("doc_b"),
            F.col("dist").cast("int").alias("dist"),
            "jaccard",
        )
    )


def fuzzy_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_dist: int = 2,
    len_bucket: int = 8,
    max_block: int = 1000,
) -> DataFrame:
    """Approximate string self-join (edit-distance record linkage —
    the "find me the typo'd duplicates of this entity name" operator):
    candidate pairs from cheap blocking, exact Levenshtein verify.
    Completes the record-linkage family next to :func:`sorted_
    neighborhood_pairs` (prefix near-dups) and the token-set paths
    (Jaccard/MinHash) — edit distance catches CHARACTER-level noise
    (OCR errors, typos, transliteration drift) that token-set
    similarity dilutes and sorting misses when the edit is early.

    Blocking key = (first token, length div ``len_bucket``): both are
    cheap scan-time expressions, and a small edit usually preserves
    both. Like every blocking scheme (LSH bands, SNM windows) recall
    is approximate — a pair whose edit changes the first token or
    crosses a length-bucket boundary is missed — but the blocking is
    DETERMINISTIC, so any engine replays the identical candidate set
    and the verified output is exact over it.

    EXACT duplicates collapse first: identical texts form one
    equivalence class (min-id representative) BEFORE pairing, so the
    join runs over distinct strings and a million-copy entity costs
    one class row, not 10¹² pairs — exact-dup enumeration is
    :func:`dedup_exact`'s job, and skipping it here is what keeps the
    self-join candidate count bounded by distinct-name counts. The
    output links class representatives at dist ≥ 1.

    Scale: one distinct-text aggregate, then a self-join shuffled on
    the block key over CLASSES; ``max_block`` drops degenerate blocks
    (a boilerplate first token with too many distinct variants) before
    the join — the same skew guard as the LSH ``max_bucket`` / shingle
    ``max_df`` caps, and equally replayable (a property of the block's
    class count). Levenshtein runs JVM-side (codegen) only on
    candidates. Returns ``(id_a, id_b, dist)`` — class-representative
    ids with id_a < id_b, 1 ≤ dist ≤ ``max_dist``.
    """
    t = F.trim(F.col(text_col))
    keyed = df.filter(F.col(text_col).isNotNull() & (t != "")).select(
        F.col(id_col).alias("fid"),
        t.alias("ftxt"),
        F.concat(
            F.split(t, r"\s+").getItem(0),
            F.lit("|"),
            F.expr(f"length(trim({text_col})) div {len_bucket}").cast("string"),
        ).alias("blk"),
    )
    classes = keyed.groupBy("blk", "ftxt").agg(F.min("fid").alias("rep"))
    ok = (
        classes.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= max_block)
        .select("blk")
    )
    k = classes.join(ok, "blk")
    a = k.select(
        F.col("blk"), F.col("rep").alias("rep_a"), F.col("ftxt").alias("txt_a")
    )
    b = k.select(
        F.col("blk").alias("blk_b"),
        F.col("rep").alias("rep_b"),
        F.col("ftxt").alias("txt_b"),
    )
    return (
        a.join(
            b,
            (F.col("blk") == F.col("blk_b")) & (F.col("txt_a") < F.col("txt_b")),
        )
        .withColumn("dist", F.levenshtein("txt_a", "txt_b"))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.least("rep_a", "rep_b").alias("id_a"),
            F.greatest("rep_a", "rep_b").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def paragraph_dedup_stats(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    para_tokens: int = 20,
) -> DataFrame:
    """Paragraph-level exact dedup (the C4/Dolma granularity between
    whole-document hashing and shingle overlap): segment each document
    into non-overlapping ``para_tokens``-token paragraphs, dedup the
    paragraph corpus globally (first-wins by (doc_id, para_idx)), and
    report per-document duplication: (doc_id, n_paras, n_dup_paras,
    dup_frac). A document whose later paragraphs all appeared earlier
    is boilerplate/recrawl even when no single whole-doc or near-dup
    detector fires — the standard reason training pipelines dedup at
    paragraph granularity (Lee et al., arxiv:2107.06499 §4 dedups
    substrings, not documents).

    Plan shape: the paragraph array is materialized in a select and
    THEN exploded (generators reject window/HOF-bearing expressions,
    the sorted_neighborhood pattern); first-wins is one row_number
    over the paragraph-hash key — the same uniform-key shuffle exact
    doc dedup pays, at paragraph cardinality. The md5 paragraph key
    keeps shuffle payload fixed-width regardless of paragraph text
    size. No driver-side data at any point.
    """
    base = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    toks = base.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    paras = toks.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, (size(t)-1) div {para_tokens}), "
            f"i -> array_join(slice(t, i*{para_tokens}+1, {para_tokens}), ' '))"
        ).alias("paras"),
    )
    # r14-opt: posexplode_OUTER. The non-outer generator synthesized a
    # `size(paras) > 0 AND isnotnull(paras)` filter below the explode
    # (InferFiltersFromGenerate), textually inlining the interpreted
    # transform/slice lambda into a pushed-down scan predicate — the
    # paragraph segmentation ran ~3× per row (baseline plan, Filter
    # (2) of corpus_paragraph_dedup_before.txt). `paras` is provably
    # never NULL or empty (transform of sequence(0, x≥0) over docs
    # with ≥1 token), so outer ≡ inner row-for-row and no filter is
    # synthesized.
    p = paras.select(
        "doc_id", F.posexplode_outer("paras").alias("para_idx", "para")
    ).select("doc_id", "para_idx", F.md5("para").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "para_idx")
    flagged = p.withColumn("dup", F.row_number().over(w) > 1)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.col("dup").cast("long")).cast("long").alias("n_dup_paras"),
        F.round(
            F.sum(F.col("dup").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_frac"),
    )


def positional_shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """``array<long>`` of n-word shingle hashes in POSITION order (one
    hash per starting token, duplicates kept — unlike
    :func:`shingle_hashes`' distinct set): position i holds
    hash64 of tokens[i..i+n-1]; docs shorter than ``n`` tokens yield
    their whole text as the single position-0 shingle. Same md5-based
    hash64 and the same one-Arrow-pass pandas UDF rationale (JVM HOF
    chains re-evaluate the tokenizer per lambda under pushdown)."""
    c = F.col(col) if isinstance(col, str) else col

    @F.pandas_udf("array<long>")
    def _psh(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                toks = t.split()
                if len(toks) < _psh_n:
                    out.append([_hash64(" ".join(toks))])
                else:
                    out.append(
                        [
                            _hash64(" ".join(toks[i : i + _psh_n]))
                            for i in range(len(toks) - _psh_n + 1)
                        ]
                    )
            yield pd.Series(out)

    _psh_n = n
    # guide-§4.4 duplication marker, same as :func:`shingle_hashes`.
    return _psh.asNondeterministic()(c)


def shared_run_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_run_tokens: int = 15,
    max_df: int = 100,
) -> DataFrame:
    """Exact repeated-SUBSTRING detection between documents: for every
    co-shingled doc pair, the longest run of consecutive shared
    n-gram positions — a shared run of r consecutive shingles is a
    verbatim shared substring of r+n−1 tokens. This is the criterion
    Lee et al. (arxiv:2107.06499) dedup on directly (50-token repeated
    spans), which document-level Jaccard structurally understates: two
    long documents sharing one boilerplate paragraph have tiny Jaccard
    but a long exact run.

    Mechanics: positional inverted index (doc, pos, h) → self-join on
    the 64-bit shingle hash → per (pair, diagonal = pos_a − pos_b)
    consecutive-position islands via the classic ``pos −
    row_number()`` grouping → per-pair max. Returns (doc_a, doc_b,
    longest_run_tokens) for runs ≥ ``min_run_tokens``.

    Scale shape: the per-hash df cap (rows per h ≤ ``max_df``,
    applied through the join-side window exchange like
    :func:`_ngram_pair_counts`) bounds fan-out against stop-shingles;
    beyond bounded slices, feed candidate PAIRS from the LSH path and
    restrict ``df`` to their documents first — the run verification
    is linear in the pair's shared positions either way.
    """
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )
    sh = base.select(
        F.col(id_col).alias("doc"),
        positional_shingle_hashes(text_col, n).alias("hs"),
    )
    inv = sh.select("doc", F.posexplode("hs").alias("pos", "h")).persist()
    inv.count()  # eager: feeds both join sides (AQE recompute race)
    wdf = Window.partitionBy("h")
    capped = (
        inv.withColumn("df", F.count(F.lit(1)).over(wdf))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    a = capped.select(
        F.col("doc").alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = capped.select(
        F.col("doc").alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    pairs = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
    diag = pairs.select(
        "doc_a", "doc_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag")
    )
    wrun = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        diag.withColumn("grp", F.col("pos_a") - F.row_number().over(wrun))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(n - 1)).cast("long").alias("run_tokens"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max("run_tokens").cast("long").alias("longest_run_tokens"))
        .filter(F.col("longest_run_tokens") >= min_run_tokens)
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (AllPairs / PPJoin family)
# ---------------------------------------------------------------------------


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold_pct: int = 50,
    candidate_budget: int | None = "auto",
    route: str = "raise",
) -> DataFrame:
    """EXACT all-pairs shingle Jaccard ≥ threshold_pct/100 via PREFIX
    FILTERING (the AllPairs / PPJoin family — Bayardo et al., WWW'07;
    Xiao et al., WWW'08): the scale path when LSH's missed-pair recall
    is not acceptable.

    Why a third near-dup join shape? The full inverted-index join
    (:func:`_ngram_pair_counts`) pays for EVERY co-shingled pair —
    measured super-linear (~x^1.7, SCALE.md) and budget-guarded; LSH
    (:func:`dedup_minhash_lsh`) is sub-linear but probabilistic (misses
    pairs). Prefix filtering is both exact and provably pruned: order
    each document's shingle set by ascending corpus frequency (rarest
    first, ties on the hash — a deterministic TOTAL order) and index
    only its first ``|T| - ceil(θ·|T|) + 1`` shingles. Two sets with
    Jaccard ≥ θ have ``|∩| ≥ θ·max(|a|,|b|) ≥ ceil(θ·|a|)``, and by the
    pigeonhole principle over the shared total order their prefixes
    MUST collide — so joining only prefixes loses NOTHING, while the
    candidate fan-out concentrates on the rarest (lowest-df) corner of
    the index instead of every stop-shingle. A length filter
    (``100·min ≥ pct·max``) prunes size-incompatible pairs inside the
    join, and the verify stage recomputes exact Jaccard on the FULL
    sets with integer cross-multiplication (``100·|∩| ≥ pct·|∪|`` —
    no float boundary on either engine).

    100 TB shape: three uniform-key exchanges (shingle-df window rides
    the candidate join's own hash partitioning; doc-keyed rank; final
    join-backs), shingle sets as fixed-width int64 hashes, verify in
    pure JVM ``array_intersect``. The df-ordered prefix does the work
    the df CAP does on the exact path — the hottest shingles sit at
    the END of every document's ordering and never enter the index.

    Returns (doc_a, doc_b, shared, jaccard) — the same contract as
    :func:`ngram_jaccard_pairs`; on any corpus the two operators'
    outputs are IDENTICAL sets (unit-tested), they differ only in how
    many candidates they touch to get there.

    CANDIDATE-BUDGET GUARD: the structural bound is against HOT
    shingles; on a df-FLAT corpus (near-uniform shingle frequencies —
    e.g. random text over a saturating shingle space) the prefix prunes
    only a constant factor of the raw index's candidates, and the
    measured 3×→10× rehearsal exponent is ~1.6 (SCALE.md) — an exact
    all-pairs join cannot beat its own true candidate density. So the
    same fail-fast contract as :func:`_ngram_pair_counts` applies:
    before the join, one dimension-sized aggregate over the persisted
    PREFIX index computes the exact prefix-collision candidate count
    Σ C(df_prefix, 2) and raises with LSH routing guidance when it
    exceeds ``candidate_budget`` (auto: ``max(2_000_000,
    500 × n_docs)``; ``None`` disables for a slice you have sized).
    """
    if route == "auto":
        # ``route="auto"``: same contract as ngram_jaccard_pairs —
        # budget trip falls back to banded LSH at the same threshold,
        # unified (doc_a, doc_b, jaccard, route) output, decision
        # recorded (ROUTE_DECISIONS + observe metric + route column).
        return _auto_route(
            df, text_col, id_col, op="prefix_filter_jaccard_pairs",
            exact_fn=lambda: prefix_filter_jaccard_pairs(
                df, text_col, id_col, n=n, threshold_pct=threshold_pct,
                candidate_budget=candidate_budget, route="raise",
            ),
            n=n, threshold=threshold_pct / 100.0,
            num_hashes=128, bands=32, seed=42,
        )
    pct = int(threshold_pct)
    if candidate_budget == "auto":
        candidate_budget = max(
            2_000_000,
            500 * df.select(id_col).count(),
        )
    sh = (
        ensure_min_parallelism(
            df.select(id_col, text_col).filter(F.col(text_col).isNotNull())
        )
        .select(
            F.col(id_col).alias("doc"), shingle_hashes(text_col, n).alias("hs")
        )
        .withColumn("n_sh", F.size("hs"))
        .persist()
    )
    # eager: sh feeds the prefix index AND both verify join-backs; an
    # unmaterialized cache would recompute the shingle UDF 3x under AQE
    sh.count()
    inv = sh.select("doc", "n_sh", F.explode("hs").alias("h"))
    # corpus df per shingle rides a window whose exchange hash-partitions
    # on the candidate join's own key (the _ngram_pair_counts trick)
    wdf = Window.partitionBy("h")
    wdoc = Window.partitionBy("doc").orderBy("df", "h")
    prefix = (
        inv.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("pos", F.row_number().over(wdoc))
        # integer ceil(pct·n/100) = (pct·n + 99) div 100 — floor
        # division on non-negative operands, identical in DuckDB (//)
        .withColumn(
            "plen",
            F.col("n_sh")
            - F.expr(f"(({pct} * n_sh + 99) div 100)")
            + F.lit(1),
        )
        .filter(F.col("pos") <= F.col("plen"))
        .select("doc", "n_sh", "h")
        # r14-opt: the persist is unconditional — the index always
        # feeds both candidate-join sides (the baseline re-ran both
        # windows per side when the budget guard was disabled). A
        # repartition("h")+sort at cache build was tried and REVERTED:
        # the candidate self-join plans as a BroadcastHashJoin (the
        # prefix index is dimension-sized by construction), so a
        # join-key layout buys nothing and the extra exchange+sort
        # measured 2.7 → 4.7 s at sf0.1 (interleaved min-of-6 A/B).
        .persist()
    )
    if candidate_budget is None:
        # eager per the AQE race rule: the two join sides would race
        # to build the cache
        prefix.count()
    else:
        # the budget aggregate is the eager materialization: its one
        # consumer reads every cached partition before the join runs
        tot = (
            prefix.groupBy("h")
            .agg(F.count(F.lit(1)).alias("pdf"))
            .agg(
                F.sum(F.col("pdf") * (F.col("pdf") - F.lit(1)))
                .cast("long")
                .alias("t")
            )
            .first()["t"]
        )
        est_candidates = (tot or 0) // 2
        if est_candidates > candidate_budget:
            prefix.unpersist()
            sh.unpersist()
            raise ValueError(
                f"prefix-filter candidate budget exceeded: the prefix "
                f"collision join would produce {est_candidates} "
                f"candidate rows > budget {candidate_budget}. The "
                f"corpus's shingle frequencies are too flat for prefix "
                f"pruning to bound the exact join; route to the "
                f"sub-linear LSH path (dedup.minhash_lsh_candidates / "
                f"the dedup_minhash_lsh query) or raise "
                f"candidate_budget explicitly if the cost is intended."
            )
    a = prefix.select(
        "h", F.col("doc").alias("doc_a"), F.col("n_sh").alias("size_a")
    )
    b = prefix.select(
        "h", F.col("doc").alias("doc_b"), F.col("n_sh").alias("size_b")
    )
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("size_a", "size_b") * 100
                >= F.greatest("size_a", "size_b") * F.lit(pct)
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sh.select(
        F.col("doc").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_sh").alias("size_a"),
    )
    sb = sh.select(
        F.col("doc").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_sh").alias("size_b"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "shared", F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
        )
        .filter(
            F.col("shared") * 100
            >= (F.col("size_a") + F.col("size_b") - F.col("shared"))
            * F.lit(pct)
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("size_a") + F.col("size_b") - F.col("shared")),
                4,
            ),
        )
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


# ---------------------------------------------------------------------------
# Persisted MinHash band index (text near-dup index lifecycle)
# ---------------------------------------------------------------------------


def write_band_index(
    docs: DataFrame,
    out_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """Materialize the MinHash band index as a PERSISTED Hive layout —
    the text-side twin of :func:`similarity.write_ivf_index`: rows
    (bucket, corpus_doc, corpus_signature) partitioned by ``band``
    (`band=<b>/` directories) and SORTED by bucket within each band's
    files, so probes prune to single band directories at the FileIndex
    level and to bucket row-groups via footer zone-maps. Built once;
    later near-dup checks (batch or streaming) join against the
    directory instead of recomputing corpus signatures — at 100 TB the
    index build is one signature pass + one partitioned write, and
    every probe afterward costs signatures for the PROBE SIDE only."""
    from hadoopxmlextractor_spark.streaming.dedup import corpus_minhash_index

    idx = corpus_minhash_index(
        docs, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands,
    )
    (
        idx.repartition("band")
        .sortWithinPartitions("bucket")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(f"{out_dir}/bands")
    )


def append_to_band_index(
    new_docs: DataFrame,
    index_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """Incremental index maintenance: signatures for the NEW documents
    only, appended into their band partitions — cost proportional to
    the batch, never the index (the :func:`append_to_ivf_index`
    contract on the text side). Band assignment depends only on the
    signature (no fitted state), so appends never invalidate earlier
    rows and probes see new documents with no rebuild."""
    from hadoopxmlextractor_spark.streaming.dedup import corpus_minhash_index

    idx = corpus_minhash_index(
        new_docs, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands,
    )
    (
        idx.repartition("band")
        .sortWithinPartitions("bucket")
        .write.mode("append")
        .partitionBy("band")
        .parquet(f"{index_dir}/bands")
    )


def probe_band_index(
    spark,
    index_dir: str,
    batch_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup check of a batch against the PERSISTED index: the same
    stateless band join + vectorized estimated-Jaccard verify as
    :func:`streaming.dedup.near_dup_stream` (which this reuses — the
    probe works identically on a batch frame), reading corpus
    signatures from the directory. Returns (stream_doc, corpus_doc,
    est_jaccard); pairs may surface once per colliding band —
    ``.distinct()`` on the id pair where exactly-once matters."""
    from hadoopxmlextractor_spark.streaming.dedup import near_dup_stream

    idx = spark.read.parquet(f"{index_dir}/bands")
    return near_dup_stream(
        batch_docs, idx, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
    )


def compact_band_index(
    spark,
    index_dir: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Index maintenance after sustained streaming appends: every
    committed micro-batch lands one file per touched band, so a
    long-running :func:`streaming.export.stream_docs_into_band_index`
    accretes small files exactly like the IVF cells. Compact each band
    directory independently (``sinks.compact_parquet`` per band —
    tmp-dir swap, so probes never see a half-written band); bands are
    discovered through Spark's partition discovery, never a local
    listdir, so the path works on HDFS/object stores. The loop is over
    ``bands`` directories (a fixed constant), each rewrite an
    independent job. Returns {band_path: (files_before, files_after)}.
    """
    from pyspark.errors import AnalysisException

    from hadoopxmlextractor_spark.sinks import compact_parquet

    bands_root = f"{index_dir}/bands"
    try:
        band_ids = sorted(
            r["band"]
            for r in spark.read.parquet(bands_root)
            .select("band")
            .distinct()
            .collect()
        )
    except AnalysisException:
        return {}
    out = {}
    for b in band_ids:
        entry = f"band={b}"
        out[entry] = compact_parquet(
            spark, f"{bands_root}/{entry}", target_file_bytes=target_file_bytes
        )
    return out
