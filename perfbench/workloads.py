"""The benchmark's workloads: inputs from a seed, one timed pass, output checks.

Each workload calls only the engine's public functions and the
``__spark_entry__`` registry. ``run`` is the timed pass; ``check`` and
``verify`` run outside the timed region and return failure descriptions.
``stages`` and ``microbench`` serve the traced run's per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import xml.etree.ElementTree as ET

import corpus
import tables
from eventlog import MIB
from eventlog import set_tag as tag
from metrics import REGISTRY_QUERIES

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.extract import extract, extract_cells, extract_fragments
from hadoopxmlextractor_spark.scanner import compile_rules, scan_document
from hadoopxmlextractor_spark.sinks import write_reference_format
from hadoopxmlextractor_spark.sources import read_xml_documents
from hadoopxmlextractor_spark.xpath_subset import compile_subset
from tests.fixtures import BOOK_CONFIG_XML, INVENTORY_CONFIG_XML

ROUNDS = 3  # repeats of each stage materialization and microbench; medians reported


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class XmlExtract:
    """read_xml_documents → extract → write_reference_format over a seeded
    corpus; every pass's output is compared with the planted lines."""

    def __init__(self, config_xml: str, fused: bool | None):
        self.config = ExtractionConfig.from_hadoop_xml(config_xml, is_text=True)
        self.fused = fused
        # the book rule's attribute predicate decides which books emit rows
        self.predicate = next(r.attribute_value for r in self.config.rules if r.name == "book")

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.docs = corpus.make_corpus(seed)
        self.corpus_dir = os.path.join(work_dir, "corpus")
        self.out_dir = os.path.join(work_dir, "out")
        self.input_bytes = corpus.write_corpus(self.docs, self.corpus_dir)
        self.expected = corpus.expected_lines(self.docs, self.predicate)
        self.n_items = len(self.docs)
        self.executions = 1
        n_books = sum(len(b) for d in self.docs for _, _, b in d.store[2])
        return {
            "documents": self.n_items,
            "books": n_books,
            "bytes": self.input_bytes,
            "expected_lines": sum(len(v) for v in self.expected.values()),
        }

    def _docs(self, spark):
        return read_xml_documents(spark, self.corpus_dir)

    def _result(self, spark):
        return extract(self._docs(spark), self.config, fused=self.fused)

    def run(self, spark, pass_tag: str) -> list[str]:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        tag(spark, pass_tag)
        write_reference_format(self._result(spark), self.config, self.out_dir)
        return []

    def check(self) -> list[str]:
        problem = corpus.check_output(self.out_dir, self.expected)
        return [problem] if problem else []

    def verify(self, spark) -> tuple[int, list[str]]:
        return 0, []  # every pass is checked

    def stages(self, spark) -> dict[str, list[float]]:
        """Materialize the pipeline one layer deeper per stage; differences
        of the medians are the layers' self times."""
        docs = lambda: self._docs(spark)  # noqa: E731
        plan = [
            ("read", lambda: noop(docs())),
            ("cells", lambda: noop(extract_cells(docs(), self.config, fused=self.fused))),
            ("rows", lambda: noop(self._result(spark))),
            ("write", lambda: write_reference_format(self._result(spark), self.config, self.out_dir)),
        ]
        if self.fused is False:
            plan.insert(1, ("fragments", lambda: noop(extract_fragments(docs(), self.config))))
        walls: dict[str, list[float]] = {name: [] for name, _ in plan}
        for r in range(ROUNDS):
            for name, fn in plan:
                tag(spark, f"stage|{name}|{r}")
                walls[name].append(timed(fn))
        return walls

    def stage_metrics(self, med: dict[str, float], shuffle: dict[str, float]) -> dict[str, float]:
        lines = 0
        for fname in os.listdir(self.out_dir):
            if fname.startswith("part-"):
                with open(os.path.join(self.out_dir, fname), encoding="utf-8") as f:
                    lines += sum(1 for _ in f)
        return {
            "sources.read_s": med["read"],
            "sources.input_mb": self.input_bytes / MIB,
            "extract.cells_s": med["cells"] - med["read"],
            "extract.general_xpath_s": (
                med["cells"] - med["fragments"] if "fragments" in med else 0.0
            ),
            "assembly.assemble_s": med["rows"] - med["cells"],
            "assembly.shuffle_mb": shuffle["rows"] - shuffle["cells"],
            "assembly.rows_out": float(lines),
            "sinks.write_s": med["write"] - med["rows"],
            "sinks.output_mb": dir_bytes(self.out_dir) / MIB,
        }

    def microbench(self) -> dict[str, float]:
        """Single-thread scan and XPath-subset evaluation, in this process, over
        the same documents; the scan validates exactly when the pipeline's
        path does (the general path validates in the scanner, the fused
        one parses every fragment itself)."""
        texts = [corpus.render(d.store, d.malformed) for d in self.docs]
        compiled = compile_rules(self.config.rules)
        validate = self.fused is False
        evaluators = [[compile_subset(x.expr) for x in r.xpaths] for r in self.config.rules]
        starts = sum(t.count(r.start_pattern) for t in texts for r in compiled)
        scan_s, eval_s = [], []
        for _ in range(ROUNDS):
            t0 = time.perf_counter()
            frags = [f for t in texts for f in scan_document(t, compiled, validate=validate)]
            scan_s.append(time.perf_counter() - t0)
            cells = 0
            t0 = time.perf_counter()
            for f in frags:
                try:
                    tree = ET.fromstring(f.xml)
                except ET.ParseError:
                    continue
                for ev in evaluators[f.rule_idx]:
                    cells += ev(tree) is not None
            eval_s.append(time.perf_counter() - t0)
        return {
            "scanner.scan_s": statistics.median(scan_s),
            "scanner.fragments": float(len(frags)),
            "scanner.kept_ratio": len(frags) / starts,
            "xpath_subset.eval_s": statistics.median(eval_s),
            "xpath_subset.cells": float(cells),
        }


class Registry:
    """Registry queries over seeded tables, noop sink; each query's result
    is compared once per run with its DuckDB oracle."""

    QUERIES = REGISTRY_QUERIES
    N_DOCS = 250
    N_EVENTS = 10_000

    def prepare(self, work_dir: str, seed: int) -> dict:
        from __spark_entry__ import queries

        registry = queries()
        self.fns = {name: registry[name] for name in self.QUERIES}
        self.table_dir = os.path.join(work_dir, "tables")
        self.input_bytes = tables.write_tables(self.table_dir, seed, self.N_DOCS, self.N_EVENTS)
        self.n_items = self.executions = len(self.QUERIES)
        # (pass tag, query) → (build s, action s)
        self.times: dict[tuple[str, str], tuple[float, float]] = {}
        return {
            "documents": self.N_DOCS,
            "events": self.N_EVENTS,
            "bytes": self.input_bytes,
            "queries": len(self.QUERIES),
        }

    def run(self, spark, pass_tag: str) -> list[str]:
        failures = []
        for name, fn in self.fns.items():
            try:
                tag(spark, f"{pass_tag}|{name}|build")
                t0 = time.perf_counter()
                df = fn(spark, self.table_dir)
                t1 = time.perf_counter()
                tag(spark, f"{pass_tag}|{name}|action")
                noop(df)
                self.times[pass_tag, name] = (t1 - t0, time.perf_counter() - t1)
            except Exception as e:  # one failing query must not stop the pass
                failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            finally:
                spark.catalog.clearCache()
        return failures

    def check(self) -> list[str]:
        return []  # results are compared once per run in verify

    def verify(self, spark) -> tuple[int, list[str]]:
        """Each query's canonicalized result against its DuckDB oracle,
        with scripts/check_correctness.py's canonicalization."""
        import duckdb
        from __spark_entry__ import oracle_sql
        from scripts.check_correctness import canon_frame

        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "events"):
                path = os.path.join(self.table_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            failures = []
            tag(spark, "verify")
            for name, fn in self.fns.items():
                try:
                    got = fn(spark, self.table_dir).toPandas()
                    want = con.sql(oracles[name]).df()
                except Exception as e:
                    failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                finally:
                    spark.catalog.clearCache()
                if canon_frame(got) != canon_frame(want):
                    failures.append(
                        f"{name}: result differs from the oracle "
                        f"({len(got)} rows vs {len(want)})"
                    )
            return len(self.fns), failures
        finally:
            con.close()

    def stages(self, spark) -> dict[str, list[float]]:
        from hadoopxmlextractor_spark.tables import load

        def read():
            for t in ("documents", "events"):
                noop(load(spark, self.table_dir, t))

        walls = {"read": []}
        for r in range(ROUNDS):
            tag(spark, f"stage|read|{r}")
            walls["read"].append(timed(read))
        return walls

    def stage_metrics(self, med: dict[str, float], shuffle: dict[str, float]) -> dict[str, float]:
        return {"sources.read_s": med["read"], "sources.input_mb": self.input_bytes / MIB}

    def microbench(self) -> dict[str, float]:
        return {}


WORKLOADS = {
    "xml_extract": lambda: XmlExtract(INVENTORY_CONFIG_XML, fused=None),
    "xml_extract_selective": lambda: XmlExtract(BOOK_CONFIG_XML, fused=False),
    "registry": Registry,
}
