"""Document-collection sources → DataFrame[doc_id: string, content: string].

The reference packs a directory of XML files into one SequenceFile with
UUID keys (``CreateSequenceFile.java:37-51``) purely as a small-files
mitigation, then reads it with a non-splittable input format
(``XmlExtractor.java:57-68``). Spark's file sources batch small files per
task natively (``spark.sql.files.maxPartitionBytes`` /
``openCostInBytes``), so no packing step exists here — but existing
SequenceFiles remain readable for drop-in parity.

Whole-file reads are inherently non-splittable, which preserves the
intra-document order the scanner's ``seq`` offsets rely on. Nothing
downstream evens out the skew this leaves: the fused extraction path
scans, parses, projects and assembles each document inside the task
that read it, and the general path's fragments stay in that task's
partition too. Input partitions are therefore the unit of parallelism.

Deployment guidance for many small files: Spark packs files into input
partitions by ``openCostInBytes`` (default 4 MB), so files much smaller
than that pack unevenly. On the benchmark corpus (``perfbench``, seed 1:
200 files averaging ~13.8 KB, Zipf-sized), the default packs 61% of the
bytes into one of 7 partitions, and that one task is the stage's
critical path. With ``spark.sql.files.openCostInBytes=16k`` the largest
of 4 partitions holds 47%, and ``extract`` to a noop sink went from a
median of 0.42–0.52 s to 0.32–0.40 s (``local[4]``, 4-core Xeon, two
runs of five passes each). Set it per deployment; this module sets no
session conf.

Deployment guidance, fixed cost per Python task: every input partition
is one Python task, and a task pays a fixed cost for its socket to the
Python worker before any work. A bare ``mapInPandas`` task on
``local[4]`` (4-core Xeon, reused workers, 12 passes of 4 tasks, two
runs each) took a median 62–63 ms of run time, 52–54 ms of it Python
time, over the default TCP socket; with
``spark.python.unix.domain.socket.enabled=true`` it took 24–26 ms, 13–15
ms of it Python time. An earlier probe found that setting
``TCP_NODELAY`` on the worker's end of the TCP socket did not help. So
more, smaller partitions pay this cost more often; weigh it against the
skew above. The engine sets no conf for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_xml_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory (or glob) of XML files, one row per document.

    Uses the ``text`` source in wholetext mode: distributed, whole-file
    (non-splittable like the reference's input format,
    ``XmlExtractor.java:64-67``), and schema-stable. ``doc_id`` is the
    file path — unique per document, like the reference's per-record UUID
    (``SeqXmlRecordReader.java:171``) but reproducible.
    """
    return (
        # NB: wholetext must be the .text() kwarg — a reader-level
        # .option("wholetext", ...) is overridden by the .text() default.
        spark.read.text(path, wholetext=True)
        .selectExpr("input_file_name() AS doc_id", "value AS content")
    )


def read_sequence_file(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-produced SequenceFile of (Text uuid, Text xml doc)
    (``CreateSequenceFile.java:39-51``) for drop-in parity."""
    rdd = spark.sparkContext.sequenceFile(
        path,
        "org.apache.hadoop.io.Text",
        "org.apache.hadoop.io.Text",
    )
    return spark.createDataFrame(rdd, schema="doc_id string, content string")


def pack(spark: SparkSession, in_dir: str, out_path: str) -> None:
    """Directory of XML files → one SequenceFile of (uuid, document),
    mirroring the reference ingest utility (``CreateSequenceFile.main``,
    ``CreateSequenceFile.java:37-51``). Unnecessary for this engine
    (file sources batch small files natively) — provided so existing
    reference pipelines keep working end-to-end."""
    docs = read_xml_documents(spark, in_dir).select(
        F.expr("uuid()").alias("doc_id"), "content"
    )
    docs.rdd.map(tuple).saveAsSequenceFile(out_path)


def docs_from_strings(spark: SparkSession, docs: dict[str, str]) -> DataFrame:
    """Build a document DataFrame from in-memory strings (tests/demos)."""
    return spark.createDataFrame(
        list(docs.items()), schema="doc_id string, content string"
    )


def read_binary_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory of XML files via the ``binaryFile`` source —
    the other small-files-native alternative to the reference's
    SequenceFile packing (``CreateSequenceFile.java:19-57``): content
    arrives as raw bytes plus (path, modificationTime, length)
    metadata, which is the right source when documents may not be
    valid UTF-8 or when byte-exact scanning matters. Decodes to the
    same (doc_id, content) contract as :func:`read_xml_documents`."""
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            F.col("path").alias("doc_id"),
            F.decode(F.col("content"), "UTF-8").alias("content"),
        )
    )
