"""Sinks. The reference writes delimiter-joined text rows with a trailing
delimiter via TextOutputFormat (``XmlExtractor.java:158-172, 206``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.sqltext import generated_names, string_literal


def to_reference_lines(result: DataFrame, config: ExtractionConfig) -> DataFrame:
    """Assembled rows → single-column DataFrame of reference-format lines:
    every column followed by the output delimiter, including the last
    (``XmlExtractor.java:160-170``).

    The output columns are found by name in ``result.columns`` and renamed
    to the generated ``c0 … cN-1`` with one ``toDF``, so no user column
    name enters the line's SQL text; the delimiter enters it as a
    ``sqltext.string_literal``.
    """
    gen = dict(zip(config.output_columns(), generated_names(config.nr_of_columns)))
    delimiter = string_literal(config.output_delimiter)
    line = "concat(" + ", ".join(f"{c}, {delimiter}" for c in gen.values()) + ") AS value"
    # The reference guarantees per-document order within a reducer's
    # output file, never a total order across files (each reducer
    # writes its own part-r-NNNNN). repartition + sortWithinPartitions
    # gives exactly that guarantee with a hash shuffle — no
    # range-partitioning global sort, which at 100 TB would add a
    # sampling pass plus a skew-prone total-order exchange.
    return (
        result.toDF(*[gen.get(c, c) for c in result.columns])
        .repartition("doc_id")
        .sortWithinPartitions("doc_id", "seq")
        .selectExpr(line)
    )


def write_reference_format(
    result: DataFrame, config: ExtractionConfig, output_path: str
) -> None:
    """Write the reference's exact text format (trailing delimiter — note a
    plain csv writer would not emit it)."""
    to_reference_lines(result, config).write.mode("overwrite").text(output_path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], *, mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout: the 100 TB data-layout
    primitive. A filter on a partition column becomes a PartitionFilters
    entry on the read side — directory pruning, zero I/O for excluded
    partitions (asserted in ``tests/test_plans.py``). Choose low-
    cardinality columns (date, source, event_type); high-cardinality
    partitioning creates a small-files explosion instead."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_training_shards(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 32,
    mode: str = "overwrite",
) -> DataFrame:
    """Training-export sink: JSONL shard directories with DETERMINISTIC
    membership and line order, plus a manifest.

    Shard assignment is the stable md5 bucket of the id — a property of
    the row, not of partition order or cluster size — so re-runs,
    engine versions, and different parallelism produce identical shard
    contents (the property that makes training jobs resumable and
    diffable). One hash shuffle: ``repartition(shard)`` puts each shard
    in one task, ``sortWithinPartitions(id)`` fixes line order, and the
    Hive-style ``partitionBy`` writes ``shard=N/`` dirs of JSON lines.
    Returns the per-shard manifest (rows + token totals), also written
    under ``<path>/_manifest`` as a single JSON file — small by
    construction (n_shards rows) so the coalesce(1) is safe at any
    scale."""
    from hadoopxmlextractor_spark.operators.corpus import stable_bucket
    from hadoopxmlextractor_spark.operators.text import tokens

    sharded = (
        docs.withColumn("shard", stable_bucket(id_col, n_shards))
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
    )
    sharded.write.partitionBy("shard").mode(mode).json(path)
    manifest = (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(F.col(text_col))).cast("long")).alias("n_tokens"),
        )
        .orderBy("shard")
    )
    manifest.coalesce(1).write.mode(mode).json(f"{path}/_manifest")
    return manifest


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_col: str,
    *,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout for min/max (zone-map) data
    skipping — the complement of :func:`write_partitioned_parquet` for
    HIGH-cardinality keys, where Hive partitioning would explode into
    tiny directories. ``repartitionByRange`` samples range boundaries
    and routes each contiguous key range to one file;
    ``sortWithinPartitions`` orders rows inside the file, tightening
    per-row-group statistics too. Every file then covers a narrow,
    non-overlapping ``sort_col`` range, so any reader that consults
    parquet column statistics (Spark's parquet filter pushdown, DuckDB
    zonemaps) skips whole files and row groups for selective
    predicates on that key — the cheap, single-key core of Z-ORDER.

    The range exchange is one sampling pass plus one shuffle — the
    write-once cost that buys every subsequent scan its skipping."""
    cols = [F.col(sort_col)]
    part = (
        df.repartitionByRange(n_files, *cols)
        if n_files is not None
        else df.repartitionByRange(*cols)
    )
    part.sortWithinPartitions(sort_col).write.mode(mode).parquet(path)


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    *,
    bits: int = 8,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional Z-ORDER clustered parquet layout: rows sort by
    the Morton (bit-interleaved) code of both keys' range-bucket ids,
    so each output file covers a small RECTANGLE of the (a, b) domain
    and footer min/max statistics skip files for selective predicates
    on EITHER column — what :func:`write_sorted_parquet` can only give
    the single sort key. This is the space-filling-curve layout Delta
    Lake's OPTIMIZE ZORDER BY popularized; interleaving bucket ids (not
    raw values) keeps high-order bits meaningful whatever the columns'
    ranges.

    Bucket ids come from uniform-width `width_bucket` over the global
    min/max (ONE tiny driver-side agg — four numbers at any scale;
    quantile bucketing would also work but costs a sampling pass and
    buys little for roughly uniform keys). The Morton code is 2·bits
    unrolled JVM bit-ops inside codegen; the only data movement is the
    same single range exchange every clustered write pays.
    """
    stats = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    lo_a, hi_a, lo_b, hi_b = (float(x) for x in stats)
    n_buckets = 1 << bits

    def bucket(col: str, lo: float, hi: float):
        if hi <= lo:  # constant column: every row in bucket 0
            return F.lit(0).cast("long")
        wb = F.width_bucket(F.col(col).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets))
        # width_bucket yields 1..n inside [lo, hi) and n+1 AT hi: clamp
        # the max value into the top bucket, then shift to 0-based.
        return F.least(wb, F.lit(n_buckets)) - F.lit(1)

    a, b = bucket(col_a, lo_a, hi_a), bucket(col_b, lo_b, hi_b)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    zdf = df.withColumn("__zorder", z)
    part = (
        zdf.repartitionByRange(n_files, F.col("__zorder"))
        if n_files is not None
        else zdf.repartitionByRange(F.col("__zorder"))
    )
    (
        part.sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> tuple[int, int]:
    """Small-file compaction — the table-maintenance pass every
    long-lived 100 TB dataset needs: streaming ingestion and
    fine-grained upserts accrete thousands of KB-sized files, and scan
    cost becomes dominated by per-file open/footer overhead instead of
    bytes. Rewrites the directory into ``ceil(total_bytes /
    target_file_bytes)`` files (never zero); with ``sort_col`` the
    rewrite also restores range clustering (:func:`write_sorted_
    parquet`), so compaction and zone-map repair are one pass.

    Returns (files_before, files_after). The rewrite goes through a
    temporary sibling directory and an atomic-as-the-filesystem-allows
    swap, so a concurrent reader sees either the old layout or the new
    one, never a half-written mix — the poor man's version of what a
    snapshot pointer (snapshots.py) makes fully atomic.

    Scale: one shuffle (round-robin or range). File sizing uses the
    on-disk byte total, not row counts, so compression ratio changes
    don't skew the output size.
    """
    import math
    import os
    import shutil

    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") or (f.startswith("part-") and "crc" not in f)
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    if sort_col is not None:
        write_sorted_parquet(df, tmp, sort_col, n_files=n_out)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(files), n_out
