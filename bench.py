#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints exactly one JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query executes fully (noop sink — no driver collect, no sink I/O)
so the measured time is scan+compute+shuffle. The extraction benchmark
synthesizes a deterministic corpus of store XML documents and runs the
full compat pipeline (scan → xpath → forward-fill assembly).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.host import canary_s  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Representative slice of the registry: heavy aggregation, shuffle join,
# broadcast join, window, as-of, dedup (exact-jaccard + minhash), text,
# similarity — plus the reference-parity extraction pipeline.
HEADLINE = [
    "agg_pricing_summary",
    "agg_cube",
    "join_inner_agg",
    "join_broadcast_dim",
    "join_asof",
    "q10_returned_items",
    "q18_large_orders",
    "window_topk_per_group",
    "events_sessionize",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_quality",
    "similarity_topk_bruteforce",
    # the composed flagship: quality filter -> exact dedup ->
    # decontamination -> sequence packing in one plan
    "corpus_prepare_training_data",
    # round-4 additions: sort-based blocking dedup, LSH bitext mining
    "dedup_sorted_neighborhood",
    "embedding_bitext_mine",
    # round-5 additions: paragraph-granularity dedup, late-interaction
    # multi-vector retrieval
    "corpus_paragraph_dedup",
    "similarity_maxsim_multivector",
    # round-5 incremental suite: exact prefix-filtered similarity join,
    # batch-merge sessionization (the continuous-ingest shapes)
    "dedup_prefix_filter_join",
    "events_sessionize_incremental",
    # round-6 additions: shuffle-free Feistel epoch shuffle (map-only),
    # grouped DLT quota sampling (WindowGroupLimit shape)
    "corpus_epoch_shuffle",
    "corpus_priority_sample_grouped",
    # round-8 additions: intra-file WARC splits (ranged gzip-member
    # explode), scope-keyed LSH near-dup (band+scope equi-join)
    "source_warc_split",
    "corpus_minhash_semantic_scope",
    # round-9 additions: PDF text extraction (the heaviest document-
    # tier kernel), the cross-format documents→corpus capstone
    "source_pdf_text",
    "pipeline_documents_to_corpus",
    # round-10 additions: crawl→markdown through the as-captured HTTP
    # coding arms, and the native FLAC full-sample decode (the
    # heaviest per-blob DSP kernel in the engine)
    "pipeline_crawl_to_markdown",
    "multimodal_audio_flac_decode",
    # round-11 additions: the native ALAC decode (adaptive-Golomb +
    # sign-adaptive LPC — the new heaviest audio kernel) and the
    # declared-charset crawl source (WARC explode + charset resolve)
    "multimodal_audio_alac_decode",
    "source_warc_charset",
    # round-12 additions: the pure-JVM outlink walk (extraction +
    # RFC 3986 resolution + canonicalization in staged codegen
    # projections), and the orientation-normalized perceptual hash
    # (lossless-JPEG decode + EXIF + double aHash per blob)
    "pipeline_crawl_outlinks",
    "multimodal_image_orientation_dedup",
    # round-13 additions: the AES-256 PDF decrypt (R6's hardened
    # Algorithm 2.B hash loop — the heaviest per-blob crypto kernel;
    # the fixture pays it twice, writer + reader), and the robots-
    # aware politeness capstone (frontier anti-join + per-host
    # admission UDF + WindowGroupLimit scheduling in one plan)
    "source_pdf_aesv3",
    "pipeline_frontier_polite",
    # round-14 additions: 7z AES-256 member decryption (iterated-KDF
    # + CBC + inner-codec chains per blob) and the Layer III spectral
    # decode (side info + reservoir + Huffman + requantize — the
    # densest bit-level kernel in the audio tier)
    "archive_7z_encrypted",
    "multimodal_audio_mp3_spectral",
]

N_XML_DOCS = 500
BOOKS_PER_INV = 40

# The walk treats a sample as taken in a contended window while the
# host canary read right after it runs above this multiple of the
# quietest canary of the run.
CONTENDED = 1.3


def build_spark(event_log_dir: str | None = None):
    """bench's session. With ``event_log_dir`` it also writes an
    uncompressed, unrolled event log there, the form that
    ``perfbench.eventlog.EventLog`` reads."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("hadoopxmlextractor-spark-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if event_log_dir is not None:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return builder.getOrCreate()


def warm_up(spark, qs) -> None:
    """Warm the JVM and the Python workers once (tiny query, not measured)."""
    qs["scan_filter_project"](spark, SF_DIR).count()


def walk(spark, label: str, run_once, canaries: list[float], base: int = 3,
         cap: int = 8) -> list[tuple[float, float]]:
    """Adaptive min-of-N; returns (seconds, canary seconds) per sample.

    The first execution of a query pays one-off plan compilation,
    classloading and Python worker spin-up, and shared virtual hosts
    show bursty hypervisor CPU contention (task wall ≫ cpu in the event
    log while guest-visible steal and cgroup throttling read zero) whose
    windows can outlast a fixed sample budget (observed: dedup_minhash_lsh
    19.98 → 10.20 → 3.27 → 2.58 s on an identical plan). So take
    ``base`` samples, then keep sampling, up to ``cap``, while the
    newest sample still improves the minimum by >10% or the canary read
    right after it says the window was contended. Convergence alone is
    spoofable: a window that covers every base sample makes three slow
    samples agree (observed: 11.6/11.3/10.2 s for a ~3 s query).

    ``canaries`` holds every canary reading of the run so far, so
    "contended" is relative to the quietest one; each sample appends
    its reading.
    """
    samples: list[tuple[float, float]] = []
    while len(samples) < cap:
        t0 = time.perf_counter()
        run_once()
        secs = time.perf_counter() - t0
        # Release operator-internal persisted DataFrames (minhash
        # signatures, inverted indexes) so queries are measured in
        # isolation rather than under the previous query's memory.
        spark.catalog.clearCache()
        canaries.append(canary_s())
        samples.append((secs, canaries[-1]))
        ratio = canaries[-1] / min(canaries)
        print(f"  {label}: {secs:.2f}s canary {ratio:.2f}", file=sys.stderr)
        if (len(samples) >= base and secs > 0.9 * min(s for s, _ in samples[:-1])
                and ratio <= CONTENDED):
            break
    return samples


def timed_min(spark, label: str, run_once, canaries: list[float]) -> float:
    """The fastest sample of ``walk``: the engine's time, not the host's."""
    return round(min(s for s, _ in walk(spark, label, run_once, canaries)), 3)


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_extraction(spark) -> float:
    """Reference-parity pipeline over a synthetic corpus (generated on
    the executors, not shipped from the driver)."""
    from pyspark.sql import functions as F

    from hadoopxmlextractor_spark.config import ExtractionConfig
    from hadoopxmlextractor_spark.extract import extract
    from tests.fixtures import INVENTORY_CONFIG_XML, make_store_xml

    config = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    # One template rendered per doc_id via fast JVM-side substitution.
    inventories = [
        (m, str(d % 28 + 1), [(f"bk{i:03d}", str((i * 7) % 50)) for i in range(BOOKS_PER_INV)])
        for d, m in enumerate(["January", "February", "March"])
    ]
    template = make_store_xml(("STORE_@ID@", "@PHONE@", inventories))
    docs = (
        spark.range(N_XML_DOCS)
        .select(
            F.concat(F.lit("doc_"), F.col("id")).alias("doc_id"),
            F.replace(
                F.replace(F.lit(template), F.lit("@ID@"), F.col("id").cast("string")),
                F.lit("@PHONE@"),
                (F.col("id") * 7919 % 100000000).cast("string"),
            ).alias("content"),
        )
        .repartition(CPUS)
    )
    t0 = time.perf_counter()
    run_noop(extract(docs, config))
    return time.perf_counter() - t0


def main() -> None:
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    warm_up(spark, qs)
    canaries = [canary_s()]

    times = {
        "xml_extraction": timed_min(
            spark, "xml_extraction", lambda: bench_extraction(spark), canaries
        )
    }
    for name in HEADLINE:
        times[name] = timed_min(
            spark, name, lambda: run_noop(qs[name](spark, SF_DIR)), canaries
        )

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
