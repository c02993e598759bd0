"""PySpark-native analytics engine with the query and data-processing
capabilities of cloudbeatsch/HadoopXmlExtractor, rebuilt Spark-first.

Layers
------
- **Compat surface** (``config``, ``extract``, ``sinks``): bit-compatible
  XML fragment extraction — the reference's scan → filter → XPath-project →
  ordered pivot + forward fill pipeline (reference:
  ``src/main/java/HadoopXmlExtractor/XmlExtractor.java:150-175``) expressed
  as a DataFrame plan. On the fused path the pivot and forward fill run
  map-side, in the scan loop, so the sink's per-document repartition is
  the only shuffle; the general (JVM XPath) path assembles with one
  window shuffle before it.
- **Analytics surface** (``operators``, ``queries*``): typed DataFrame
  operators — joins, aggregations, windows, set ops, dedup, similarity
  search, text analysis — all built on ``pyspark.sql`` so Catalyst/AQE
  optimize them.
- **Worker imports** (``worker_imports``, imported first): a stat-gated
  ``zipimporter.invalidate_caches`` so each Python task in a reused worker
  skips re-reading ``pyspark.zip``'s directory.
"""

from hadoopxmlextractor_spark import worker_imports  # noqa: F401  (installs on import)
from hadoopxmlextractor_spark.config import ExtractionConfig, ExtractRule, XPathSpec
from hadoopxmlextractor_spark.extract import extract, extract_cells, run_extraction

__all__ = [
    "ExtractionConfig",
    "ExtractRule",
    "XPathSpec",
    "extract",
    "extract_cells",
    "run_extraction",
]
