"""Scale-contract tests: assert the physical plans, not just results
(SURVEY.md §4 — every hand-rolled optimization in the reference must be
provided by Catalyst or the operator's construction here).
"""

from pyspark.sql import functions as F

from hadoopxmlextractor_spark.operators.skew import (
    bucketed_join,
    salted_agg,
    salted_join,
    write_bucketed,
)
from hadoopxmlextractor_spark.plans import (
    count_exchanges,
    executed_plan,
    has_broadcast_join,
    pushed_filters,
    scan_columns,
)
from hadoopxmlextractor_spark.tables import load

SF = "/root/testdata/sf0.001"


def test_filter_and_projection_reach_the_scan(spark):
    df = (
        load(spark, SF, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    assert any("l_quantity" in f and "GreaterThan" in f for f in pushed_filters(df))
    [cols] = scan_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}  # 2 of 11 columns read


def test_dim_join_broadcasts(spark):
    li = load(spark, SF, "lineitem")
    part = load(spark, SF, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    assert has_broadcast_join(joined)
    assert count_exchanges(joined) == 0  # no shuffle for the join itself


def test_extraction_assembly_single_shuffle(spark):
    from hadoopxmlextractor_spark.operators.assembly import assemble_rows

    cells = spark.createDataFrame(
        [("d", 0, 0, "x")], "doc_id string, seq long, order int, value string"
    )
    assert count_exchanges(assemble_rows(cells, 2)) == 1


def test_salted_agg_matches_plain(spark):
    orders = load(spark, SF, "orders")
    plain = {
        r["o_orderstatus"]: (r["n"], r["total"])
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        )
        .collect()
    }
    salted = {
        r["o_orderstatus"]: (r["n"], r["total"])
        for r in salted_agg(
            orders.withColumn("o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")),
            "o_orderstatus",
            {"n": ("o_orderstatus", "count"), "total": ("o_totalprice", "sum")},
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    orders = load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, SF, "customer").select("c_custkey", "c_name").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = sorted(
        tuple(r) for r in orders.join(cust, "o_custkey").collect()
    )
    salted = sorted(tuple(r) for r in salted_join(orders, cust, "o_custkey", n_salts=4).collect())
    assert salted == plain


def test_bucketed_join_no_exchange(spark):
    # tables land in the default warehouse dir (spark.sql.warehouse.dir
    # is static); dropped at the end
    orders = load(spark, SF, "orders").select("o_custkey", "o_orderkey")
    cust = load(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    write_bucketed(orders, "b_orders", "o_custkey", n_buckets=4)
    write_bucketed(cust, "b_cust", "o_custkey", n_buckets=4)
    try:
        joined = bucketed_join(spark, "b_orders", "b_cust", "o_custkey")
        assert count_exchanges(joined) == 0  # co-located: zero shuffles
        assert joined.count() == orders.join(cust, "o_custkey").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_global_topk_never_global_sorts(spark):
    from hadoopxmlextractor_spark.plans import executed_plan

    df = load(spark, SF, "orders").orderBy(F.col("o_totalprice").desc()).limit(5)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_reference_sink_no_global_sort(spark):
    # The reference guarantees per-document order within a part file,
    # not a total order: the sink must hash-repartition + sort within
    # partitions, never range-partition (a global sort adds a sampling
    # pass and a skew-prone total-order exchange at scale).
    from hadoopxmlextractor_spark.config import ExtractionConfig
    from hadoopxmlextractor_spark.plans import executed_plan
    from hadoopxmlextractor_spark.sinks import to_reference_lines

    cfg = ExtractionConfig.from_rules(
        rules=[], nr_of_columns=2, output_delimiter=";"
    )
    rows = spark.createDataFrame(
        [("d1", 0, "a", "b")], "doc_id string, seq long, c0 string, c1 string"
    )
    plan = executed_plan(to_reference_lines(rows, cfg))
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning" in plan.lower()


def test_no_interpreted_lambdas_under_candidate_joins(spark):
    # SCALE.md rule: the verify kernels that run below the dedup /
    # similarity candidate joins must be Arrow-batched pandas UDFs, not
    # JVM higher-order functions — zip_with/aggregate lambdas are
    # interpreted and Catalyst duplicates them into join-constraint
    # Filter predicates pushed to both sides (433 s/task observed).
    from hadoopxmlextractor_spark.operators.dedup import dedup_minhash_lsh
    from hadoopxmlextractor_spark.operators.similarity import (
        cosine_pairs_exact,
        cosine_pairs_lsh,
    )
    from hadoopxmlextractor_spark.plans import executed_plan

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(i, f"some words {i} repeated here") for i in range(8)],
        "doc_id long, text string",
    )
    for df in (
        cosine_pairs_exact(vecs, threshold=0.1),
        cosine_pairs_lsh(vecs, threshold=0.1, dim=3, n_planes=4),
        dedup_minhash_lsh(docs, "text", "doc_id", num_hashes=16, bands=4, threshold=0.1),
    ):
        plan = executed_plan(df)
        assert "lambdafunction" not in plan.lower(), plan
        assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_semantic_clusters_query_is_lsh_bucketed_not_all_pairs(spark):
    # Round-2 verdict item: the PRODUCTION semantic-dedup query must
    # generate candidates through the banded-LSH bucket equi-join, never
    # the O(n²) all-pairs theta join (BroadcastNestedLoopJoin) that the
    # `embedding_near_pairs` oracle baseline legitimately uses.
    from hadoopxmlextractor_spark.corpus_queries import (
        q_dedup_semantic_clusters,
    )

    df = q_dedup_semantic_clusters(spark, SF)
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_user_sequences_single_shuffle(spark):
    # The per-user cap's rank filter must RIDE the groupBy's hash
    # partitioning (same key), not add a second exchange.
    from hadoopxmlextractor_spark.corpus_queries import (
        q_corpus_user_sequences,
    )

    assert count_exchanges(q_corpus_user_sequences(spark, SF)) == 1


def test_prepare_training_data_plan_contract(spark):
    # The composed pipeline must keep each stage's scale shape: the
    # contamination inverted-index join broadcasts the (tiny) benchmark
    # side, and nothing in the composition degrades to an all-pairs
    # nested-loop or cartesian plan.
    from hadoopxmlextractor_spark.corpus_queries import (
        q_corpus_prepare_training_data,
    )

    plan = executed_plan(q_corpus_prepare_training_data(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_scan_bandwidth_ops_have_no_shuffle(spark):
    # Quality filter, stable split, and chunking are pure projections /
    # local explodes: zero exchanges at any scale.
    from hadoopxmlextractor_spark.operators.corpus import (
        chunk_documents,
        quality_filter,
        train_val_split,
    )

    docs = load(spark, SF, "documents")
    assert count_exchanges(quality_filter(docs, "text", "doc_id")) == 0
    assert count_exchanges(train_val_split(docs, "doc_id")) == 0
    assert count_exchanges(chunk_documents(docs, "text", "doc_id")) == 0


def test_tfidf_caches_tf_and_broadcasts_df(spark):
    # The corpus-sized tf aggregate must be computed once (cached, both
    # consumers read InMemoryTableScan) and the vocabulary-sized df
    # table must broadcast — not shuffle — back onto it.
    from hadoopxmlextractor_spark.operators.corpus import tfidf_top_terms
    from hadoopxmlextractor_spark.plans import executed_plan

    docs = load(spark, SF, "documents")
    df = tfidf_top_terms(docs, "text", "doc_id", n_docs=500, top_k=3)
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_q7_nation_disjunction_reaches_both_nation_scans(spark):
    # Catalyst must derive the per-side (NATION_1 OR NATION_2) residual
    # of the cross-side pair filter into BOTH nation scans, shrinking
    # the broadcasts before any join runs.
    from hadoopxmlextractor_spark.flagship_queries import q_q7_volume_shipping

    df = q_q7_volume_shipping(spark, SF)
    nation_filters = [
        f for f in pushed_filters(df) if "NATION_1" in f or "NATION_2" in f
    ]
    assert len(nation_filters) >= 2, pushed_filters(df)


def test_q19_quantity_disjunction_reaches_lineitem_scan(spark):
    # The cross-side OR keeps an equi-join; the lineitem-only residual
    # (quantity range union) must push into the lineitem scan.
    from hadoopxmlextractor_spark.flagship_queries import (
        q_q19_disjunctive_predicates,
    )

    df = q_q19_disjunctive_predicates(spark, SF)
    assert any("l_quantity" in f for f in pushed_filters(df))
    assert has_broadcast_join(df)


def test_partitioned_layout_prunes_directories(spark, tmp_path):
    # write_partitioned_parquet produces a Hive-style layout; a filter
    # on the partition column must appear as a PartitionFilters entry
    # (directory pruning — zero I/O for excluded partitions) and NOT
    # need a row-level pushed filter.
    from hadoopxmlextractor_spark.plans import partition_filters
    from hadoopxmlextractor_spark.sinks import write_partitioned_parquet

    events = load(spark, SF, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned_parquet(events, out, ["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    pf = partition_filters(back)
    assert any("event_type" in f for f in pf), pf
    n = back.count()
    expected = events.filter(F.col("event_type") == "click").count()
    assert n == expected


def test_range_search_is_pure_scan_filter(spark):
    # Exact cosine range search must compile to scan+filter with no
    # exchange and no sort — the zero-shuffle dual of top-k.
    from hadoopxmlextractor_spark.operators.similarity import cosine_range_search

    emb = load(spark, SF, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    df = cosine_range_search(emb, qv, threshold=0.15)
    assert count_exchanges(df) == 0
    assert "Sort" not in executed_plan(df)


def test_stratified_sample_uses_window_group_limit(spark):
    # The rn<=k filter must push into the window as a per-partition
    # group limit so a hot stratum never materializes fully.
    from pyspark.sql import Window

    docs = load(spark, SF, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    df = (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source")
    )
    assert "WindowGroupLimit" in executed_plan(df)


def test_repetition_counts_single_arrow_pass(spark):
    # The repetition kernel is one ArrowEvalPython projection: no
    # shuffle, no interpreted lambdas.
    from hadoopxmlextractor_spark.operators.text import repetition_counts

    docs = load(spark, SF, "documents")
    df = docs.select("doc_id", repetition_counts("text").alias("r")).select("doc_id", "r.*")
    plan = executed_plan(df)
    assert count_exchanges(df) == 0
    assert "ArrowEvalPython" in plan
    assert "lambdafunction" not in plan.lower()


def test_scalar_subquery_queries_reuse_cached_aggregate(spark):
    # q11/q15 persist the per-key aggregate so the scalar (total/max)
    # and the filter branch share ONE shuffle: the executed plan must
    # read the cache, not recompute the aggregate lineage twice.
    from hadoopxmlextractor_spark.tpch_queries import (
        q_q11_important_parts,
        q_q15_top_supplier,
    )

    for fn in (q_q11_important_parts, q_q15_top_supplier):
        plan = executed_plan(fn(spark, SF))
        assert "InMemoryTableScan" in plan, plan[:500]


def test_decontaminate_broadcasts_benchmark_never_cartesian(spark):
    from hadoopxmlextractor_spark.corpus_queries import q_corpus_decontaminate

    df = q_corpus_decontaminate(spark, SF)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # eval-set index is the broadcast side
    assert "ArrowEvalPython" in plan  # fused shingle kernel, planned once


def test_unigram_logprob_broadcasts_vocab_never_shuffle_joins_tokens(spark):
    # The probs table must broadcast onto the token stream: a shuffle
    # join keyed on raw tokens would route every occurrence of a hot
    # stop word to one reducer. Only doc-keyed / vocab-keyed exchanges
    # may remain.
    from hadoopxmlextractor_spark.operators.corpus import unigram_logprob

    docs = load(spark, SF, "documents")
    df = unigram_logprob(docs, "text", "doc_id")
    plan = executed_plan(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan, plan


def test_pii_audit_is_scan_bandwidth_until_final_aggregate(spark):
    # Chained regexp audit + redaction are JVM expressions in one
    # codegen stage: exactly one exchange (the per-source aggregate),
    # no UDF evaluation nodes.
    from hadoopxmlextractor_spark.pipeline_queries import q_text_pii_audit

    df = q_text_pii_audit(spark, SF)
    plan = executed_plan(df)
    assert count_exchanges(df) == 1
    assert "EvalPython" not in plan


def test_span_dedup_no_self_join_three_uniform_shuffles(spark):
    # Segment → rank → rebuild must stay join-free (the dedup state is
    # the one rank-per-span window riding the shuffle) with exactly the
    # three documented exchanges, and the tiny per-span HOFs must never
    # sit under a join.
    from hadoopxmlextractor_spark.operators.corpus import span_dedup

    docs = load(spark, SF, "documents")
    df = span_dedup(docs, "text", "doc_id")
    plan = executed_plan(df)
    assert count_exchanges(df) == 3
    assert "Join" not in plan, plan


def test_shuffle_shards_single_shuffle_no_global_sort(spark):
    # One shard-keyed window exchange; never a range-partitioned global
    # sort (the single-task cliff a corpus-wide row_number would hit).
    from hadoopxmlextractor_spark.operators.corpus import shuffle_shards

    docs = load(spark, SF, "documents")
    df = shuffle_shards(docs, "doc_id")
    plan = executed_plan(df)
    assert count_exchanges(df) == 1
    assert "rangepartitioning" not in plan.lower(), plan


def test_duplicated_window_stats_caches_windows_no_cartesian(spark):
    # The k-gram table must be computed once (both consumers read the
    # cache) and the count join-back must be a real equi-join.
    from hadoopxmlextractor_spark.operators.dedup import (
        duplicated_window_stats,
    )

    docs = load(spark, SF, "documents")
    df = duplicated_window_stats(docs, "text", "doc_id")
    plan = executed_plan(df)
    assert "InMemoryTableScan" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    spark.catalog.clearCache()


def test_asof_join_directions_tolerance_and_single_shuffle(spark):
    from hadoopxmlextractor_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", "2024-01-01 10:00:00"), (2, "u", "2024-01-01 12:00:00"),
         (3, "v", "2024-01-01 10:00:00")],
        ["id", "k", "ts_s"],
    ).select("id", "k", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("u", "2024-01-01 09:30:00", "a"),
         ("u", "2024-01-01 10:00:00", "b"),   # tie: visible both ways
         ("u", "2024-01-01 13:00:00", "c")],
        ["k", "ts_s", "v"],
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")

    back = {r["id"]: r["asof_match"] for r in asof_join(left, right, "k", "ts").collect()}
    assert back[1]["v"] == "b"          # same-instant right row matches
    assert back[2]["v"] == "b"          # latest at-or-before 12:00
    assert back[3] is None              # key v has no right rows

    fwd = {r["id"]: r["asof_match"] for r in asof_join(left, right, "k", "ts", direction="forward").collect()}
    assert fwd[1]["v"] == "b"           # tie matches forward too
    assert fwd[2]["v"] == "c"           # earliest at-or-after 12:00

    tol = {r["id"]: r["asof_match"] for r in asof_join(left, right, "k", "ts", tolerance_seconds=3600).collect()}
    assert tol[1]["v"] == "b"
    assert tol[2] is None               # nearest (10:00) is 2h away > 1h

    # boundary: exactly tolerance away still matches (inclusive)
    tol2 = {r["id"]: r["asof_match"] for r in asof_join(left, right, "k", "ts", tolerance_seconds=7200).collect()}
    assert tol2[2]["v"] == "b"

    assert count_exchanges(asof_join(left, right, "k", "ts")) == 1


def test_interval_join_planted_and_equijoin_plan(spark):
    from hadoopxmlextractor_spark.operators.temporal import interval_join

    mk = lambda rows, idc: spark.createDataFrame(
        rows, [idc, "k", "s", "e"]
    ).select(
        idc, "k",
        F.col("s").cast("timestamp").alias("start"),
        F.col("e").cast("timestamp").alias("end"),
    )
    left = mk(
        [(1, "u", "2024-01-01 10:00:00", "2024-01-01 11:00:00"),
         (2, "u", "2024-01-01 23:30:00", "2024-01-02 00:30:00"),  # spans midnight bins
         (3, "w", "2024-01-01 10:00:00", "2024-01-01 11:00:00")],
        "lid",
    )
    right = mk(
        [(10, "u", "2024-01-01 11:00:00", "2024-01-01 12:00:00"),  # touches 1 at boundary
         (11, "u", "2024-01-02 00:00:00", "2024-01-02 00:10:00"),  # inside 2
         (12, "u", "2024-01-01 08:00:00", "2024-01-01 09:59:59"),  # just misses 1
         (13, "v", "2024-01-01 10:30:00", "2024-01-01 10:40:00")],  # other key
        "rid",
    )
    out = interval_join(left, right, "k", bin_seconds=3600)
    pairs = {(r["lid"], r["rid_r"]) for r in out.collect()}
    assert pairs == {(1, 10), (2, 11)}  # inclusive touch; no cross-key
    # each pair appears once despite multi-bin coverage
    assert out.count() == 2
    # scale contract: candidates come from an equi-join, never a
    # nested-loop theta join
    plan = executed_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_filtered_topk_pushes_predicate_and_heap_ranks(spark):
    # Filtered vector search: the label predicate must reach the
    # parquet scan (pushed filter), and ranking must compile to
    # TakeOrderedAndProject over survivors — never rank-then-filter.
    from hadoopxmlextractor_spark.operators.similarity import cosine_topk_bruteforce
    from hadoopxmlextractor_spark.plans import executed_plan, pushed_filters

    emb = load(spark, SF, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    df = cosine_topk_bruteforce(
        emb.filter(F.col("label").isin(2, 5, 7)), qv, k=20, carry=("label",)
    )
    assert "TakeOrderedAndProject" in executed_plan(df)
    assert any("label" in f for f in pushed_filters(df))


def test_knn_classify_broadcasts_probes_and_group_limits(spark):
    # The probe panel must broadcast (the corpus side never shuffles
    # for scoring) and the rn<=k filter must push into the window as a
    # per-input-partition group limit, so the probe-keyed exchange
    # carries O(k·probes·partitions) rows, never probes × corpus.
    from hadoopxmlextractor_spark.pipeline_queries import q_similarity_knn_classify

    plan = executed_plan(q_similarity_knn_classify(spark, SF))
    assert "Broadcast" in plan  # probe side broadcast, no shuffled join
    assert "WindowGroupLimit" in plan


def test_quantize_int8_is_scan_bandwidth(spark):
    # One Arrow projection over the scan, zero exchanges.
    from hadoopxmlextractor_spark.pipeline_queries import q_embedding_quantize_int8

    df = q_embedding_quantize_int8(spark, SF)
    assert count_exchanges(df) == 0
    assert executed_plan(df).count("ArrowEvalPython") == 1


def test_events_attribution_single_fact_shuffle(spark):
    # The carry-forward window and the channel rollup ride ONE fact
    # exchange (user_id) plus the dimension-sized final agg exchange.
    from hadoopxmlextractor_spark.events_queries import q_events_attribution

    assert count_exchanges(q_events_attribution(spark, SF)) <= 2


def test_trend_slope_partial_aggregates_before_shuffle(spark):
    # The moment sums must combine map-side: the exchange carries
    # |event_type| partial rows, and there is exactly one of it.
    from hadoopxmlextractor_spark.events_queries import q_events_trend_slope

    df = q_events_trend_slope(spark, SF)
    assert count_exchanges(df) == 1
    assert "partial" in executed_plan(df).lower()


def _with_confs(spark, confs: dict):
    """Set session confs, returning the originals for restore."""
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    return old


def _restore_confs(spark, old: dict):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    # Runtime skew handling is config, not code — but the contract must
    # hold: a planted 90%-hot-key fact joined without broadcast gets
    # its hot partition SPLIT by AQE (skew=true in the final plan)
    # instead of serializing on one reducer. Thresholds are lowered so
    # the local[4] run crosses the same trigger a 100 TB hot key would.
    old = _with_confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        },
    )
    try:
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(5000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("w")
        )
        # The agg re-keys on a different column: a same-key agg directly
        # above the join would FORBID the split (row duplication would
        # break its required distribution) — itself part of the contract.
        df = (
            fact.join(dim, "k")
            .groupBy((F.col("v") % 7).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert len(df.collect()) == 7
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final
    finally:
        _restore_confs(spark, old)


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark):
    # With a selective dim filter on a non-broadcastable join, Spark
    # injects a runtime bloom filter: the fact side is pre-filtered by
    # might_contain(bloom_filter_agg(dim keys)) BEFORE its shuffle, so
    # at 100 TB the exchange carries only rows that can match. The
    # application-side size threshold (10 GB default — met trivially at
    # cluster scale) is zeroed so the sf0.001 scan qualifies.
    old = _with_confs(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        li = load(spark, SF, "lineitem")
        od = load(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = executed_plan(df)
        assert "might_contain" in plan and "bloom_filter_agg" in plan.lower()
        assert df.count() == 1
    finally:
        _restore_confs(spark, old)


def test_scd2_history_collapses_runs_single_shuffle(spark):
    import datetime as dt

    from hadoopxmlextractor_spark.operators.temporal import scd2_history

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # u1: A A B A — runs collapse to A, B, A
        (1, "A", ts(0), 1),
        (1, "A", ts(10), 2),
        (1, "B", ts(20), 3),
        (1, "A", ts(30), 4),
        # u2: single state, stays one open current row
        (2, "X", ts(5), 5),
        # u3: same-timestamp tie broken by event_id (B then C)
        (3, "B", ts(0), 6),
        (3, "C", ts(0), 7),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_type string, ts timestamp, event_id int"
    )
    out = scd2_history(df, "user_id", "event_type", "ts", "event_id")
    got = {
        (r["user_id"], r["version"]): (
            r["state"],
            r["eff_from_ms"],
            r["eff_to_ms"],
            r["is_current"],
        )
        for r in out.collect()
    }

    def ms(m):
        return int((t0 + dt.timedelta(minutes=m)).replace(
            tzinfo=dt.timezone.utc).timestamp() * 1000)

    assert got == {
        (1, 1): ("A", ms(0), ms(20), False),
        (1, 2): ("B", ms(20), ms(30), False),
        (1, 3): ("A", ms(30), None, True),
        (2, 1): ("X", ms(5), None, True),
        (3, 1): ("B", ms(0), ms(0), False),
        (3, 2): ("C", ms(0), None, True),
    }
    # the AQE string prints Final + Initial sections — count the Final only
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_asof_cogroup_same_source_and_missing_key(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from hadoopxmlextractor_spark.operators.temporal import asof_join_cogroup

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # both sides filtered from ONE DataFrame — the same-exprId case
    # where the cogroup plan can silently deduplicate away a column
    ev = spark.createDataFrame(
        [
            (1, "p", ts(10), 100),
            (1, "c", ts(5), 101),
            (1, "c", ts(10), 102),  # tie: same-instant click IS visible
            (2, "p", ts(3), 103),   # no clicks at all for key 2
            (3, "c", ts(1), 104),   # right-only key: no output row
        ],
        "user_id int, event_type string, ts timestamp, event_id int",
    )
    left = ev.filter(F.col("event_type") == "p").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "c").select("user_id", "ts")
    got = {
        r["event_id"]: r["asof_ts"]
        for r in asof_join_cogroup(left, right, "user_id", "ts").collect()
    }
    assert got == {100: ts(10), 103: None}


def test_pipeline_observability_via_observe(spark):
    # Production observability: df.observe() attaches accumulator-style
    # metrics (rows seen / kept / dropped) that materialize during the
    # SAME action — no second counting job over the corpus, which at
    # 100 TB is the difference between free telemetry and a double scan.
    from pyspark.sql import Observation

    from hadoopxmlextractor_spark.operators.corpus import quality_filter
    from hadoopxmlextractor_spark.tables import load

    docs = load(spark, SF, "documents")
    obs = Observation("quality")
    verdicts = quality_filter(docs, "text", "doc_id").observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
    )
    kept_rows = verdicts.filter("keep").count()
    metrics = obs.get
    assert metrics["n_kept"] == kept_rows
    assert metrics["n_docs"] == docs.count()
    assert 0 < metrics["n_kept"] <= metrics["n_docs"]


def test_join_strategy_hints_control_physical_plan(spark):
    # Join-strategy control surface: when Catalyst's default choice is
    # wrong for a workload (e.g. sort-merge on a dimension that just
    # misses the broadcast threshold), hints pick the physical join
    # without rewriting the query. Assert each hint lands.
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, SF, "orders").select("o_orderkey")

    merge = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in executed_plan(merge)

    shuffle_hash = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    assert "ShuffledHashJoin" in executed_plan(shuffle_hash)

    bcast = li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
    assert "BroadcastHashJoin" in executed_plan(bcast)


def test_incremental_partition_recompute_matches_full(spark, tmp_path):
    # The incremental-maintenance pattern for partitioned rollups: when
    # one day's raw partition re-lands, recompute ONLY that day's
    # aggregate and dynamically overwrite its partition — the result
    # must equal a full recompute, at one day's cost instead of the
    # whole table's.
    from hadoopxmlextractor_spark.tables import load as load_t

    ev = load_t(spark, SF, "events").select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    agg_path = str(tmp_path / "daily_agg")

    def daily(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
        )

    daily(ev).write.partitionBy("day").parquet(agg_path)

    # one day's raw data "re-lands" with corrections (drop error rows)
    some_day = ev.select(F.min("day")).first()[0]
    corrected = ev.filter(
        (F.col("day") == some_day) & (F.col("event_type") != "error")
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    daily(corrected).write.mode("overwrite").partitionBy("day").parquet(agg_path)

    full = daily(
        ev.filter((F.col("day") != some_day) | (F.col("event_type") != "error"))
    )
    got = {
        (str(r["day"]), r["event_type"]): (r["n"], r["cents"])
        for r in spark.read.parquet(agg_path).collect()
    }
    want = {
        (str(r["day"]), r["event_type"]): (r["n"], r["cents"])
        for r in full.collect()
    }
    assert got == want


def test_results_invariant_under_shuffle_partition_count(spark):
    # Determinism under cluster reconfiguration: the ops built on
    # md5-derived ordering (shuffle-sharding, temperature sampling,
    # sequence packing, stratified sampling) must produce IDENTICAL
    # rows whether the job runs with 3 or 11 shuffle partitions —
    # the guarantee that lets a 100 TB pipeline change executor counts
    # between incremental runs without moving a single row. (The
    # DuckDB oracle already pins cross-ENGINE determinism; this pins
    # the Spark-specific partition-layout axis.)
    import __spark_entry__ as entrymod

    names = [
        "corpus_shuffle_shards",
        "corpus_temperature_sample",
        "corpus_pack_sequences",
        "corpus_stratified_sample",
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n_part in ("3", "11"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            for name in names:
                rows = sorted(
                    tuple(r)
                    for r in entrymod.queries()[name](spark, SF).collect()
                )
                results.setdefault(name, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for name, (a, b) in results.items():
        assert a == b, f"{name} changed rows across partition counts"
        assert a, f"{name} returned no rows"


def test_kmeans_assignment_zero_shuffle_and_diversity_group_limit(spark):
    from hadoopxmlextractor_spark.operators import similarity as S
    from hadoopxmlextractor_spark.pipeline_queries import (
        q_corpus_diversity_sample,
    )

    emb = load(spark, SF, "embeddings")
    # The per-vector assignment pass carries the centroid matrix as a
    # task-closure constant: no join, no exchange — scan bandwidth.
    # release_cache=False keeps the REAL plan inspectable (the default
    # eager localCheckpoint would reduce it to a checkpoint-RDD scan
    # and make these assertions vacuous).
    out = S.kmeans_assignments(emb, k=4, rounds=1, release_cache=False)
    plan = executed_plan(out)
    assert count_exchanges(out) == 0
    assert "Join" not in plan
    # The cluster cap must be a WindowGroupLimit (per-partition heap
    # below the exchange), never rank-everything-then-filter.
    div = q_corpus_diversity_sample(spark, SF)
    assert "WindowGroupLimit" in executed_plan(div)


def test_interval_merge_single_exchange(spark):
    from hadoopxmlextractor_spark.events_queries import q_events_interval_merge

    # Two windows + final aggregate all cluster on user_id (groupBy
    # keys are a superset of the window partitioning), so Catalyst
    # plans exactly one exchange end-to-end.
    df = q_events_interval_merge(spark, SF)
    assert count_exchanges(df) == 1


def test_ivf_index_probe_prunes_partitions_and_matches_inline(spark, tmp_path):
    from hadoopxmlextractor_spark.operators import similarity as S

    emb = load(spark, SF, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    out = str(tmp_path / "ivf")
    S.write_ivf_index(emb, out, n_centroids=8)
    probed = S.ivf_topk_from_index(spark, out, qv, k=10, nprobe=3)
    # The centroid fit is the same deterministic driver sample, so the
    # persisted-index probe must return exactly the inline result.
    inline = S.ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=3)
    assert [tuple(r) for r in probed.collect()] == [
        tuple(r) for r in inline.collect()
    ]
    # Pruning happens at the FILE INDEX: the probe's scan carries a
    # centroid_id partition filter, so non-probed cells are never read.
    plan = executed_plan(probed)
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1][:200]


def test_ivf_index_incremental_append_matches_full_rebuild(spark, tmp_path):
    from hadoopxmlextractor_spark.operators import similarity as S

    emb = load(spark, SF, "embeddings")
    first = emb.filter(F.col("vec_id") % 5 != 0)
    rest = emb.filter(F.col("vec_id") % 5 == 0)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    out = str(tmp_path / "ivf_inc")
    S.write_ivf_index(first, out, n_centroids=8)
    S.append_to_ivf_index(spark, out, rest)
    inc = S.ivf_topk_from_index(spark, out, qv, k=10, nprobe=8)

    # nprobe = all cells -> the probe is exhaustive, so the appended
    # index must rank exactly like brute force over the full table
    # (cell layout only changes WHICH files are scanned, never values).
    brute = S.cosine_topk_bruteforce(emb, qv, k=10)
    assert [tuple(r) for r in inc.collect()] == [tuple(r) for r in brute.collect()]


def test_ivf_index_compaction_shrinks_files_preserves_probe(spark, tmp_path):
    import glob

    from hadoopxmlextractor_spark.operators import similarity as S

    emb = load(spark, SF, "embeddings")
    out = str(tmp_path / "ivf_c")
    S.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), out, n_centroids=4)
    # Three tiny appends accrete small files per cell.
    for m in (1, 3, 5):
        S.append_to_ivf_index(
            spark, out, emb.filter(F.col("vec_id") % 6 == m)
        )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    before = [tuple(r) for r in S.ivf_topk_from_index(spark, out, qv, k=10, nprobe=4).collect()]
    n_before = len(glob.glob(f"{out}/cells/centroid_id=*/part-*.parquet"))

    stats = S.compact_ivf_index(spark, out)
    n_after = len(glob.glob(f"{out}/cells/centroid_id=*/part-*.parquet"))
    assert n_after < n_before
    assert all(a <= b for b, a in stats.values())
    after = [tuple(r) for r in S.ivf_topk_from_index(spark, out, qv, k=10, nprobe=4).collect()]
    assert after == before


def test_concurrent_query_submission_thread_safe(spark):
    """Multi-tenant smoke: four registry queries submitted from
    concurrent threads on one session must return exactly their
    sequential results (scheduler pools share the session; operator
    construction must not race)."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as e

    qs = e.queries()
    names = [
        "scan_filter_project",
        "agg_pricing_summary",
        "join_semi",
        "window_running_sum",
    ]

    def run(n):
        return n, qs[n](spark, SF).count()

    with ThreadPoolExecutor(4) as ex:
        concurrent = dict(ex.map(run, names))
    sequential = {n: qs[n](spark, SF).count() for n in names}
    assert concurrent == sequential


def test_hybrid_rrf_legs_are_heap_cuts(spark):
    from hadoopxmlextractor_spark.pipeline_queries import q_search_hybrid_rrf

    # Both retrieval legs and the final fused cut must be bounded
    # heaps (TakeOrderedAndProject), never full sorts — the property
    # that keeps rank assignment 50-row-sized at any corpus scale.
    plan = executed_plan(q_search_hybrid_rrf(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 3
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_gated_ann_recall_flag_is_broadcast_single_row(spark):
    # The round-4 gate-verdict wrapper cross-joins the exact top-20
    # (materialized once — 20 rows) with a ONE-ROW recall total: the
    # plan must broadcast that row (BroadcastNestedLoopJoin over a
    # single-row aggregate is the tiny-row idiom), never a
    # CartesianProduct, and the approximate leg's top-k must stay a
    # bounded heap.
    from hadoopxmlextractor_spark.pipeline_queries import q_similarity_topk_ivf

    plan = executed_plan(q_similarity_topk_ivf(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("TakeOrderedAndProject") >= 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sharded_bloom_probe_is_cogrouped_not_collected(spark):
    # The sharded bloom probe must be a shard-keyed cogroup (each task
    # sees one shard's batch rows + that shard's single bitmap row) —
    # verified structurally: FlatMapCoGroupsInPandas in the plan, and
    # the per-shard bitmap build as its own grouped-map node.
    from hadoopxmlextractor_spark.corpus_queries import (
        q_dedup_incremental_bloom_sharded,
    )

    plan = executed_plan(q_dedup_incremental_bloom_sharded(spark, SF))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_binary_ann_is_codegen_heap_cut_then_broadcast_rerank(spark):
    # Binary-quantized ANN plan contract: stage 1 (packing + hamming)
    # must be pure JVM expressions feeding a bounded heap
    # (TakeOrderedAndProject at the candidate cut AND the final k) —
    # no Python workers, no global Sort; stage 2's join-back must
    # broadcast the candidate list, never nested-loop the corpus.
    from hadoopxmlextractor_spark.pipeline_queries import q_similarity_topk_binary

    plan = executed_plan(q_similarity_topk_binary(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "bit_count" in plan and "shiftleft" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Sort [" not in plan  # both cuts are heaps, not sorts


def test_kmv_overlap_all_dimension_sized_after_one_distinct(spark):
    # KMV plan contract: ONE corpus-keyed exchange pair (the distinct
    # over (source, hash) — partial+final), after which everything is
    # sketch arithmetic over sources x k rows; the pair expansion and
    # the sketch probe must broadcast, never shuffle-join the sketches.
    from hadoopxmlextractor_spark.operators import dedup as D

    docs = load(spark, SF, "documents")
    out = D.kmv_source_overlap(docs, "text", "source", k=16)
    plan = executed_plan(out)
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_snm_is_one_block_window_no_global_sort(spark):
    # Sorted-neighborhood plan contract: exactly one Window (the lead
    # array is built in ONE pass, not per distance), partitioned by the
    # block key via a hash exchange — never a global range sort — and
    # the Jaccard verify stays JVM-side (no Python workers).
    from hadoopxmlextractor_spark.operators import dedup as D

    docs = load(spark, SF, "documents")
    plan = executed_plan(
        D.sorted_neighborhood_pairs(docs, "text", "doc_id", window=4)
    )
    assert plan.count("Window") == 1, plan
    assert "Exchange hashpartitioning" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dsir_fit_rides_broadcast_score_is_single_shuffle(spark):
    # DSIR plan contract: the dim-row weight table must BROADCAST onto
    # the scoring pass (never a shuffle join against the token stream),
    # and all arithmetic is codegen (no Python workers).
    from hadoopxmlextractor_spark.corpus_queries import q_corpus_dsir_sample

    plan = executed_plan(q_corpus_dsir_sample(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan  # fixed-K cut, no global sort


def test_fuzzy_join_pairs_classes_not_rows(spark):
    # Fuzzy-join plan contract: the self-join input is the DISTINCT-
    # text class aggregate (HashAggregate below the join), and the
    # levenshtein verify is JVM-side; no cartesian/nested-loop path.
    from hadoopxmlextractor_spark.pipeline_queries import q_dedup_fuzzy_join

    plan = executed_plan(q_dedup_fuzzy_join(spark, SF))
    assert "levenshtein" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tfidf_topk_single_scan_and_window_group_limit(spark):
    # Round-5 plan contract: the df count rides a token window over the
    # tf table — ONE corpus scan feeds the whole keyword pipeline (the
    # only other scan is the column-pruned-to-nothing total count) and
    # the per-doc top-k compiles to WindowGroupLimit.
    from hadoopxmlextractor_spark.operators.text import tfidf_topk_keywords

    docs = load(spark, SF, "documents")
    out = tfidf_topk_keywords(docs, "text", "doc_id", k=3)
    plan = executed_plan(out)
    assert "WindowGroupLimit" in plan
    schemas = scan_columns(out)
    # exactly one scan feeds the tokenize/explode pipeline (reads
    # doc_id+text); the only other scan is the single-row total, pruned
    # to the text column with no Generate above it
    assert sorted(map(sorted, schemas)) == [["doc_id", "text"], ["text"]]
    assert plan.count("Generate explode") == 1


def test_maxsim_broadcasts_query_group_and_aggregates_partially(spark):
    # The query group (4 rows) must broadcast; the cosine kernel is one
    # ArrowEvalPython above the join; the final cut is
    # TakeOrderedAndProject, never a global sort.
    from hadoopxmlextractor_spark.operators.similarity import (
        maxsim_topk_multivector,
    )

    emb = load(spark, SF, "embeddings")
    out = maxsim_topk_multivector(emb, query_group=0, group_size=4, k=10)
    plan = executed_plan(out)
    assert "BroadcastExchange" in plan
    assert "ArrowEvalPython" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("ArrowEvalPython") == 1  # one fused kernel pass


def test_shared_runs_joins_the_cached_index_with_df_cap(spark):
    # Both join sides read the PERSISTED positional index (the shingle
    # UDF runs exactly once, at cache materialization — no recompute
    # per side), and the df cap is applied as a filter over the
    # h-partitioned window before the join.
    from hadoopxmlextractor_spark.operators.dedup import shared_run_pairs

    docs = load(spark, SF, "documents")
    out = shared_run_pairs(docs, "text", "doc_id", n=3, min_run_tokens=15)
    plan = executed_plan(out)
    assert plan.count("InMemoryTableScan") >= 2  # cache feeds both sides
    assert "df#" in plan and "<= 100" in plan  # the cap filter is present


def test_prefix_filter_join_plan_contract(spark):
    # The prefix-filter join must never degrade to an all-pairs plan:
    # candidates come from an equi-join on the shingle hash, the df
    # window rides the same hash partitioning as that join (shared
    # exchange), and the verify join-backs are plain equi-joins.
    from hadoopxmlextractor_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from hadoopxmlextractor_spark.plans import executed_plan

    docs = load(spark, SF, "documents")
    plan = executed_plan(
        prefix_filter_jaccard_pairs(docs, "text", "doc_id", n=3)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sessionize_incremental_plan_contract(spark, tmp_path):
    # The batch merge is one user-keyed sorted pass: over two
    # parquet-read inputs it plans exactly one hash exchange on the
    # user, no join of any kind and no broadcast (so no
    # dirty-cardinality frame is ever broadcast, at any batch size).
    # The registry query around it never degrades to a nested loop.
    import re

    from hadoopxmlextractor_spark.events_queries import (
        q_events_sessionize_incremental,
    )
    from hadoopxmlextractor_spark.operators.temporal import (
        sessionize_incremental,
        sessionize_table,
    )

    ev = spark.createDataFrame(
        [(1, 1, 0), (1, 2, 1000), (2, 3, 0), (1, 4, 9_000_000), (3, 5, 7)],
        "user_id long, event_id long, ms long",
    )
    sessionize_table(
        ev.filter(F.col("event_id") <= 3), gap_ms=3_600_000
    ).write.parquet(str(tmp_path / "standing"))
    ev.filter(F.col("event_id") > 3).write.parquet(str(tmp_path / "batch"))
    plan = executed_plan(
        sessionize_incremental(
            spark.read.parquet(str(tmp_path / "standing")),
            spark.read.parquet(str(tmp_path / "batch")),
            gap_ms=3_600_000,
        )
    )
    assert not re.search(r"Join|CartesianProduct", plan), plan
    assert "BroadcastExchange" not in plan
    assert len(re.findall(r"\bExchange hashpartitioning\(user_id", plan)) == 1

    qplan = executed_plan(q_events_sessionize_incremental(spark, SF))
    assert "BroadcastNestedLoopJoin" not in qplan
    assert "CartesianProduct" not in qplan


def test_sessionize_incremental_query_job_budget_and_no_leaked_cache(spark):
    """Build plus a noop action of the registry query runs in at most 8
    jobs (it ran 22 with its broadcast merge and four persist+count
    barriers), and leaves no persisted RDD behind."""
    from hadoopxmlextractor_spark.events_queries import (
        q_events_sessionize_incremental,
    )

    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs
    before = set(persisted())
    group = "sessionize-incremental-job-budget"
    sc.setJobGroup(group, "events_sessionize_incremental build + noop")
    try:
        df = q_events_sessionize_incremental(spark, SF)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, jobs
    # RDD ids, not a count: the context cleaner may unpersist an earlier
    # test's garbage-collected cache meanwhile, which is not this
    # query's leak
    assert set(persisted()) - before == set()


def test_maintain_minmax_touches_only_dirty_groups(spark):
    # The dirty-group list must BROADCAST into both the carry anti-join
    # and the recompute semi-join (group-dimension-sized by
    # construction) — a shuffled variant would rescan clean groups.
    from hadoopxmlextractor_spark.pipeline_queries import (
        q_corpus_incremental_minmax,
    )
    from hadoopxmlextractor_spark.plans import executed_plan

    plan = executed_plan(q_corpus_incremental_minmax(spark, SF))
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_cardinality_preflight_never_joins_fact_rows(spark):
    # The pre-flight must aggregate BOTH fact sides to key histograms
    # BEFORE its only join (partial aggregation collapses each side
    # pre-exchange), and its prediction must equal the real join's
    # row count exactly.
    from hadoopxmlextractor_spark.events_queries import (
        q_diagnostics_join_cardinality,
    )
    from hadoopxmlextractor_spark.plans import executed_plan

    df = q_diagnostics_join_cardinality(spark, SF)
    row = df.first()
    li = load(spark, SF, "lineitem")
    orders = load(spark, SF, "orders")
    actual = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).count()
    assert row["predicted_rows"] == actual
    plan = executed_plan(df)
    # the join's inputs are HashAggregates, not raw scans: every
    # SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin input must have
    # an aggregate between it and the scan — cheap proxy: exactly one
    # join, and at least two aggregates besides the final one
    assert plan.count("Join") >= 1
    assert plan.count("HashAggregate") >= 4  # 2 sides x partial+final



def test_lint_plan_flags_antipatterns_and_passes_clean_plans(spark):
    from pyspark.sql import functions as F2

    from hadoopxmlextractor_spark.plans.inspect import lint_plan

    li = load(spark, SF, "lineitem")
    orders = load(spark, SF, "orders")

    # clean: filtered equi-join with pruned columns
    clean = (
        li.filter(F2.col("l_quantity") > 30)
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("l_orderkey", "l_quantity")
    )
    assert lint_plan(clean) == []

    # cartesian / nested loop
    cart = li.select("l_orderkey").crossJoin(orders.select("o_orderkey"))
    codes = {f["code"] for f in lint_plan(cart)}
    assert codes & {"cartesian", "nested_loop"}

    # filter that cannot reach the scan (opaque Python UDF predicate).
    # DELIBERATE ANTI-PATTERN FIXTURE: this is the only row-at-a-time
    # UDF in the repo, existing precisely so the linter has a true
    # positive to catch — no operator code uses F.udf (asserted by the
    # repo-wide convention the linter enforces).
    from pyspark.sql.types import BooleanType

    opaque = F2.udf(lambda q: q is not None and q > 30, BooleanType())
    blocked = li.select("l_orderkey", "l_quantity").filter(
        opaque(F2.col("l_quantity"))
    )
    codes = {f["code"] for f in lint_plan(blocked)}
    assert "unfiltered_scan" in codes
    assert "rowwise_python" in codes  # the UDF itself is row-at-a-time

    # wide scan under a narrow result: select * then project one col
    wide = li.filter(F2.col("l_quantity") > 0).select("l_orderkey")
    # (pruning normally kicks in — force the wide read via a cache)
    wide_forced = li.cache().select("l_orderkey")
    findings = lint_plan(wide_forced)
    li.unpersist()
    # cached scans may or may not surface ReadSchema; accept either,
    # but a normal pruned projection must NOT flag wide_scan
    assert all(f["code"] != "wide_scan" for f in lint_plan(wide))


def test_round7_queries_pass_plan_lint(spark):
    """Scale pre-flight over every round-7 newcomer: lint_plan must
    find no error-severity anti-pattern (cartesian / nested-loop) and
    no row-wise Python UDF in any of their physical plans at sf0.001
    (the PLAN SHAPE is what transfers to 100 TB, not the volume)."""
    import __spark_entry__  # noqa: F401
    from hadoopxmlextractor_spark.plans.inspect import lint_plan
    from hadoopxmlextractor_spark.queries import QUERIES

    new_r7 = [
        "multimodal_mjpeg_shots", "multimodal_audio_g711",
        "multimodal_jpeg_progressive", "text_sentence_semdedup",
        "multimodal_png_interlaced", "source_warc_http",
        "text_html_extract", "multimodal_audio_adpcm",
        "multimodal_tiff_ahash", "text_bigram_surprisal",
    ]
    # Documented exception: a 1-row global-scalar broadcast crossJoin
    # (the sanctioned pattern for joining a corpus-wide aggregate back
    # — see the search_bm25_topk stats join and operators/text.py's
    # totals joins) compiles to BroadcastNestedLoopJoin, which the
    # lint flags conservatively. text_bigram_surprisal broadcasts its
    # ONE-ROW vocabulary count this way.
    scalar_broadcast_ok = {"text_bigram_surprisal"}
    sf = "/root/testdata/sf0.001"
    for name in new_r7:
        findings = lint_plan(QUERIES[name](spark, sf))
        errors = [
            f for f in findings
            if f["severity"] == "error"
            and not (f["code"] == "nested_loop" and name in scalar_broadcast_ok)
        ]
        rowwise = [f for f in findings if f["code"] == "rowwise_python"]
        assert errors == [] and rowwise == [], (name, findings)


def test_join_auto_salt_salts_only_when_skewed(spark):
    """r8 skew-adaptive join: a planted 40%-hot key triggers the
    salted hot/cold split (explode in the plan, decision recorded,
    result row-identical to the plain join); a uniform key keeps the
    plain single-join plan (no explode, no salt column)."""
    from pyspark.sql import functions as F

    from hadoopxmlextractor_spark.operators.skew import (
        AUTO_SALT_DECISIONS,
        join_auto_salt,
    )

    dim = spark.createDataFrame(
        [(k, k * 11) for k in range(100)], "k long, attr long"
    )
    uniform = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    skewed = spark.range(1000).select(
        F.when(F.col("id") % 5 != 0, F.lit(3))
        .otherwise(F.col("id") % 10)
        .alias("k"),
        F.col("id").alias("v"),
    )

    def rows(df):
        return sorted((r.k, r.v, r.attr) for r in df.collect())

    n0 = len(AUTO_SALT_DECISIONS)
    u = join_auto_salt(uniform, dim, "k")
    assert rows(u) == rows(uniform.join(dim, "k"))
    assert AUTO_SALT_DECISIONS[n0]["salted"] is False
    assert "_salt" not in u._jdf.queryExecution().optimizedPlan().toString()

    s = join_auto_salt(skewed, dim, "k")
    assert rows(s) == rows(skewed.join(dim, "k"))
    d = AUTO_SALT_DECISIONS[n0 + 1]
    assert d["salted"] is True and 3 in d["hot_keys"]
    assert d["top1_share"] > 0.5
    plan = s._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan and "explode" in plan.lower()

    # left join keeps unmatched hot rows exactly once
    dim_missing_hot = dim.filter(F.col("k") != 3)
    lt = join_auto_salt(skewed, dim_missing_hot, "k", how="left")
    plain = skewed.join(dim_missing_hot, "k", "left")
    assert sorted((r.k, r.v, r.attr) for r in lt.collect()) == sorted(
        (r.k, r.v, r.attr) for r in plain.collect()
    )

    # NULL-key big rows survive a salted LEFT join (isin(NULL) is
    # NULL — without the coalesce they'd vanish from both branches)
    with_nulls = skewed.unionByName(
        spark.createDataFrame([(None, 9001), (None, 9002)], "k long, v long")
    )
    ln = join_auto_salt(with_nulls, dim, "k", how="left")
    pn = with_nulls.join(dim, "k", "left")

    def multiset(df):
        return sorted(
            (r.k if r.k is not None else -1, r.v, r.attr if r.attr is not None else -1)
            for r in df.collect()
        )

    assert multiset(ln) == multiset(pn)
    assert sum(1 for r in ln.collect() if r.k is None) == 2


def test_round8_queries_pass_plan_lint(spark):
    """Scale pre-flight over every round-8 newcomer: lint_plan must
    find no error-severity anti-pattern (cartesian / nested-loop) and
    no row-wise Python UDF in any of their physical plans at sf0.001
    (the PLAN SHAPE is what transfers to 100 TB, not the volume)."""
    import __spark_entry__  # noqa: F401
    from hadoopxmlextractor_spark.plans.inspect import lint_plan
    from hadoopxmlextractor_spark.queries import QUERIES

    new_r8 = [
        "source_warc_split", "multimodal_audio_mp3_meta",
        "multimodal_audio_vorbis_meta", "join_auto_salt",
        "multimodal_audio_flac_meta", "corpus_minhash_semantic_scope",
        "text_simhash_hamming_buckets", "source_warc_wet_pipeline",
        "events_count_distinct_sliding", "text_language_confidence",
        "multimodal_video_rle_shots", "multimodal_png_lowbit_ahash",
        "multimodal_jpeg_lossless_ahash", "multimodal_audio_opus_meta",
        "text_robots_admission", "source_sitemap_urls",
        "corpus_ccnet_buckets", "text_mojibake_repair",
        "multimodal_audio_wav_meta", "pipeline_crawl_to_corpus",
        "multimodal_audio_oggflac_meta", "multimodal_video_meta",
        "source_warc_revisit",
    ]
    # Same documented exception as the round-7 sweep: a 1-row global-
    # scalar broadcast crossJoin compiles to BroadcastNestedLoopJoin,
    # which the lint flags conservatively. corpus_ccnet_buckets
    # INHERITS text_bigram_surprisal's one-row vocabulary-count
    # broadcast (it composes on that query's plan).
    scalar_broadcast_ok = {"corpus_ccnet_buckets"}
    sf = "/root/testdata/sf0.001"
    for name in new_r8:
        findings = lint_plan(QUERIES[name](spark, sf))
        errors = [
            f for f in findings
            if f["severity"] == "error"
            and not (f["code"] == "nested_loop" and name in scalar_broadcast_ok)
        ]
        rowwise = [f for f in findings if f["code"] == "rowwise_python"]
        assert errors == [] and rowwise == [], (name, findings)


def test_round9_queries_pass_plan_lint(spark):
    """Scale pre-flight over the round-9 newcomers (modern-container
    metadata walks): no cartesian/nested-loop, no row-wise Python UDF
    — the walks must stay single Arrow passes."""
    import __spark_entry__  # noqa: F401
    from hadoopxmlextractor_spark.plans.inspect import lint_plan
    from hadoopxmlextractor_spark.queries import QUERIES

    new_r9 = [
        "multimodal_video_mp4_meta", "multimodal_video_webm_meta",
        "multimodal_image_webp_meta", "multimodal_audio_m4a_meta",
        "multimodal_webp_lossless_ahash",
    ]
    sf = "/root/testdata/sf0.001"
    for name in new_r9:
        findings = lint_plan(QUERIES[name](spark, sf))
        errors = [f for f in findings if f["severity"] == "error"]
        rowwise = [f for f in findings if f["code"] == "rowwise_python"]
        assert errors == [] and rowwise == [], (name, findings)


# ---------------------------------------------------------------------------
# r14 optimization round: single-evaluation contracts for expensive
# Python kernels and interpreted JVM lambdas (guide §4.4 class)
# ---------------------------------------------------------------------------


def test_shingle_udf_planned_once_under_explode(spark):
    """InferFiltersFromGenerate synthesizes a size/isnotnull filter
    below every non-outer explode; for a (deterministic) UDF output
    the pushed filter used to duplicate the whole ArrowEvalPython node
    (two shingle evaluations per pass in every r14 baseline dedup
    plan). The nondeterministic marker on shingle_hashes must keep it
    to ONE evaluation."""
    from hadoopxmlextractor_spark.operators import dedup as D

    docs = load(spark, SF, "documents").filter(F.col("text").isNotNull())
    df = docs.select(
        "doc_id", D.shingle_hashes("text", 3).alias("hs")
    ).select("doc_id", F.explode("hs").alias("h"))
    assert executed_plan(df).count("ArrowEvalPython") == 1


def test_minhash_signature_udf_planned_once_under_explode(spark):
    from hadoopxmlextractor_spark.operators import dedup as D

    sig = D.minhash_signature_udf(num_hashes=8, shingle_n=3, seed=1)
    docs = load(spark, SF, "documents").filter(F.col("text").isNotNull())
    df = docs.select("doc_id", sig("text").alias("s")).select(
        "doc_id", F.posexplode("s").alias("i", "v")
    )
    assert executed_plan(df).count("ArrowEvalPython") == 1


def test_robots_admit_not_pushed_through_frontier_antijoin(spark):
    """The admission filter sits directly above a left-anti join on
    the canonical URL; before the r14 nondeterministic marker the
    optimizer propagated the Python predicate through the join-key
    equality onto BOTH crawled-side union branches (3 ArrowEvalPython
    admission nodes in pipeline_frontier_polite_before.txt). It must
    be planned exactly once."""
    from hadoopxmlextractor_spark.queries_r13 import (
        q_pipeline_frontier_polite,
    )

    plan = executed_plan(q_pipeline_frontier_polite(spark, SF))
    assert plan.count("_admit") == 1


def test_paragraph_segmentation_lambda_planned_once(spark):
    """paragraph_dedup_stats explodes a transform(...)-computed array;
    with non-outer posexplode the synthesized generate-filter textually
    re-inlined the interpreted transform/slice lambda into a pushed
    scan predicate (~3 evaluations per row in the r14 baseline plan).
    posexplode_outer (row-identical here: the array is never NULL or
    empty) must leave exactly one occurrence of the lambda."""
    from hadoopxmlextractor_spark.operators import dedup as D

    docs = load(spark, SF, "documents")
    df = D.paragraph_dedup_stats(docs, "text", "doc_id", para_tokens=20)
    assert executed_plan(df).count("transform(sequence") == 1


def test_connected_components_consumes_pair_lineage_once(spark):
    """Edge symmetrization is one explode, not union(edges, swapped):
    the union form consumed the caller's pair-generation lineage twice,
    re-running its Python kernels (shingle/LSH/cosine verify) once per
    branch while BUILDING the edge cache. With a pandas-UDF pair source
    the symmetrized-edges plan must evaluate it in exactly ONE
    ArrowEvalPython node signature, and the clustering must match the
    union form row-for-row."""
    import pandas as pd
    import re
    from pyspark.sql import functions as F  # noqa: F811
    from hadoopxmlextractor_spark.operators import dedup as D

    @F.pandas_udf("long")
    def _probe(s: pd.Series) -> pd.Series:
        return s % 5

    base = spark.range(0, 40).select(
        F.col("id").alias("doc_a"), _probe("id").alias("doc_b")
    )
    labels = D.connected_components(base)
    rows = {tuple(r) for r in labels.collect()}
    # every node lands in the component of its min-reachable id
    assert all(comp <= doc for doc, comp, _ in rows)
    # the probe kernel is planned exactly once (distinct node
    # signatures; identical reprints under InMemoryTableScan are the
    # cached lineage, not re-executions)
    plan = labels._jdf.queryExecution().executedPlan().toString()
    sigs = {
        m.group(0)
        for m in re.finditer(r"ArrowEvalPython \[[^\n]*_probe[^\n]*", plan)
    }
    assert len(sigs) == 1, sigs


def test_paragraph_array_never_null_or_empty(spark):
    """r14's posexplode_outer swap is row-identical ONLY while the
    paragraph array is never NULL/empty (transform over
    sequence(0, x>=0) on docs with >=1 token). Guard the invariant at
    sf0.01: the exploded rows carry no NULL paragraph, and every
    surviving doc contributes >= 1 paragraph row (VERDICT r14 item 8)."""
    from hadoopxmlextractor_spark.operators.text import tokens

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    base = docs.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).select("doc_id", "text")
    toks = base.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    paras = toks.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, (size(t)-1) div 30), "
            "i -> array_join(slice(t, i*30+1, 30), ' '))"
        ).alias("paras"),
    )
    exploded = paras.select(
        "doc_id", F.posexplode_outer("paras").alias("para_idx", "para")
    )
    assert exploded.filter(F.col("para").isNull()).count() == 0
    assert (
        exploded.select("doc_id").distinct().count()
        == toks.select("doc_id").distinct().count()
    )


def test_fused_extraction_assembles_map_side(spark):
    # The fused path assembles rows inside its scan loop: no window and no
    # shuffle before the sink.
    import re

    from hadoopxmlextractor_spark.config import ExtractionConfig
    from hadoopxmlextractor_spark.extract import extract
    from hadoopxmlextractor_spark.sources import docs_from_strings
    from tests.fixtures import INVENTORY_CONFIG_XML, SOHO, make_store_xml

    cfg = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    out = extract(docs_from_strings(spark, {"soho.xml": make_store_xml(SOHO)}), cfg)
    assert not re.search(r"\bWindow\b", executed_plan(out))
    assert count_exchanges(out) == 0


def test_sentence_semdedup_releases_its_embedding_cache(spark, tmp_path):
    # semdedup_prune caches the embedding union itself, so the query drops
    # its own cache of the dense table once that union is loaded. Left
    # behind: the union cache, the pair-stage cache and k-means' local
    # checkpoint. The symlinked input gives this run's plans their own
    # cache entries, whatever other tests cached.
    import __spark_entry__ as e

    sf = tmp_path / "sf"
    sf.symlink_to(SF)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    out = e.queries()["text_sentence_semdedup"](spark, str(sf))
    assert out.filter(F.col("kept")).count() > 0
    assert len(set(persisted().keys()) - before) == 3
