"""Tests of the benchmark itself: input generators, the expected-output
model, the output check, the event-log reader and the metric lists.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import xml.etree.ElementTree as ET

import numpy as np
import pytest

import corpus
import tables
from eventlog import TAG_PROPERTY, EventLog, Job, Task, set_tag, task_skew, union_ms
from metrics import END_TO_END, PER_LAYER

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.scanner import compile_rules, scan_document
from tests.fixtures import BANKS, INVENTORY_CONFIG_XML, SOHO, golden_rows, make_store_xml

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generators --------------------------------------------------------------


def test_corpus_is_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = corpus.make_corpus(3), corpus.make_corpus(3), corpus.make_corpus(4)
    assert a == b
    assert a != c
    assert [corpus.render(d.store, d.malformed) for d in a] == [
        corpus.render(d.store, d.malformed) for d in b
    ]


def test_corpus_size_is_fixed_and_heavy_tailed():
    for seed in (1, 2):
        docs = corpus.make_corpus(seed)
        sizes = sorted((sum(len(b) for _, _, b in d.store[2]) for d in docs), reverse=True)
        assert len(docs) == corpus.N_DOCS
        assert sum(sizes) == corpus.N_BOOKS
        assert sizes == sorted(corpus.books_per_document(), reverse=True)
        assert sizes[0] > 20 * sizes[len(sizes) // 2]  # a few large documents
        assert any(d.malformed for d in docs)


def test_tables_are_deterministic_per_seed_and_differ_across_seeds():
    def make(seed):
        rng = np.random.default_rng(seed)
        return tables.make_documents(rng, 50), tables.make_events(rng, 200)

    (d1, e1), (d2, e2), (d3, e3) = make(5), make(5), make(6)
    assert d1.equals(d2) and e1.equals(e2)
    assert not d1.equals(d3) and not e1.equals(e3)
    assert list(d1.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert list(e1.columns) == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert (d1.n_chars == d1.text.str.len()).all()
    assert e1.ts.is_monotonic_increasing


# -- expected-output model ---------------------------------------------------


def test_render_matches_fixture_documents():
    for store in (SOHO, BANKS):
        assert corpus.render(store) == make_store_xml(store)


def test_expected_rows_reproduce_golden_rows():
    for store in (SOHO, BANKS):
        assert corpus.expected_rows(store) == golden_rows([store])
        assert corpus.expected_rows(store, predicate="bk106") == golden_rows([store], "bk106")


def test_malformed_books_are_exactly_the_dropped_fragments():
    config = ExtractionConfig.from_hadoop_xml(INVENTORY_CONFIG_XML, is_text=True)
    compiled = compile_rules(config.rules)
    book_rule = [r.element_name for r in config.rules].index("book")
    for d in corpus.make_corpus(2)[:40]:
        text = corpus.render(d.store, d.malformed)
        raw = [f for f in scan_document(text, compiled, validate=False) if f.rule_idx == book_rule]
        kept = [f for f in scan_document(text, compiled, validate=True) if f.rule_idx == book_rule]
        unparsable = 0
        for f in raw:
            try:
                ET.fromstring(f.xml)
            except ET.ParseError:
                unparsable += 1
        assert unparsable == len(raw) - len(kept) == len(d.malformed)
        assert len(kept) == len(corpus.expected_rows(d.store, d.malformed))


def test_check_output_accepts_exact_output_and_rejects_changes(tmp_path):
    docs = corpus.make_corpus(1)[:5]
    expected = corpus.expected_lines(docs)
    lines = [line for d in docs for line in expected[d.store[0]]]

    def write(parts):
        out = tmp_path / f"out{len(list(tmp_path.iterdir()))}"
        out.mkdir()
        for i, part in enumerate(parts):
            (out / f"part-{i:05d}.txt").write_text("".join(x + "\n" for x in part))
        return str(out)

    assert corpus.check_output(write([lines[:40], lines[40:]]), expected) is None
    assert corpus.check_output(write([lines[1:]]), expected) is not None
    swapped = lines[:]
    swapped[0], swapped[1] = swapped[1], swapped[0]
    assert corpus.check_output(write([swapped]), expected) is not None
    assert corpus.check_output(write([lines + lines[:1]]), expected) is not None


# -- event-log reader ----------------------------------------------------------


def test_union_and_skew():
    jobs = [Job(0, "a", 0, 100), Job(1, "a", 50, 150), Job(2, "a", 300, 310), Job(3, "a", 5, None)]
    assert union_ms(jobs) == 160.0
    tasks = [Task(1, ms, 0, 0, 0) for ms in (10, 10, 10, 90)] + [Task(2, 5, 0, 0, 0)]
    assert task_skew(tasks) == 9.0
    assert task_skew([Task(2, 5, 0, 0, 0)]) == 1.0


def test_summary_attributes_tasks_and_python_metrics_by_tag():
    props = {TAG_PROPERTY: "p1"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7}, "Properties": props},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 7,
            "Task Info": {"Accumulables": [
                {"Name": "time to run Python workers", "Update": "1500"},
                {"Name": "data sent to Python workers", "Update": str(1 << 20)},
            ]},
            "Task Metrics": {
                "Executor Run Time": 2000,
                "Executor CPU Time": 500_000_000,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 21},
                "Disk Bytes Spilled": 0,
            },
        },
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Properties": {}},
    ]
    s = EventLog(events).summary("p1", wall_s=2.5)
    assert s["spark.jobs"] == 1 and s["spark.stages"] == 1 and s["spark.tasks"] == 1
    assert s["spark.executor_run_s"] == 2.0 and s["spark.executor_cpu_s"] == 0.5
    assert s["spark.shuffle_write_mb"] == 2.0
    assert s["python.run_s"] == 1.5 and s["python.mb_sent"] == 1.0
    assert s["spark.driver_gap_s"] == pytest.approx(0.5)


@pytest.fixture(scope="module")
def logged_spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    yield spark, log_dir
    spark.stop()


def test_event_log_counts_jobs_of_known_queries(logged_spark):
    spark, log_dir = logged_spark
    set_tag(spark, "one_job")
    spark.range(100).write.format("noop").mode("overwrite").save()
    set_tag(spark, "three_jobs")
    for _ in range(3):
        spark.range(100).write.format("noop").mode("overwrite").save()
    set_tag(spark, None)
    spark.stop()  # closes the log; the fixture's stop is then a no-op
    log = EventLog.from_dir(log_dir)
    assert log.summary("one_job")["spark.jobs"] == 1
    assert log.summary("three_jobs")["spark.jobs"] == 3
    assert log.summary("three_jobs")["spark.tasks"] == 3 * log.summary("one_job")["spark.tasks"]


# -- metric lists ---------------------------------------------------------------


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_every_layer_metric_is_mapped():
    with open(os.path.join(os.path.dirname(corpus.__file__), "layers.json"), encoding="utf-8") as f:
        layers = json.load(f)["layers"]
    mapped = set()
    for key, entry in layers.items():
        assert entry["moves"] in END_TO_END or entry["moves"] is None
        pattern = re.escape(key).replace(re.escape("<name>"), "[a-z0-9_]+")
        mapped |= {n for n in PER_LAYER if re.fullmatch(pattern, n)}
    assert mapped == set(PER_LAYER)
