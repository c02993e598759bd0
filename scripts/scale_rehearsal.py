#!/usr/bin/env python
"""Off-sample scale rehearsal (round-3 verdict item 3): synthesize an
N× blow-up of the sf0.1 documents/embeddings tables and run the
heaviest pipeline queries once, recording wall time and per-stage task
extremes from the event log — empirical evidence that the fan-out caps
(shingle df cap, LSH bucket cap, membership-vote fan-out) hold beyond
the sf0.1 regime every prior 100× claim was measured at.

Blow-up construction (deterministic):
- documents: replica 0 is the original table (keeps the planted
  near-dup/PII evidence); replicas 1..N-1 get a per-(replica, doc)
  seeded word shuffle — same vocabulary and length distribution (the
  df profile that drives inverted-index fan-out is preserved) but
  fresh shingle SETS, so replicas are new documents, not a wall of
  artificial 10-cliques that no real corpus has.
- embeddings: replicas roll the vector by k positions — norm and
  coordinate distribution preserved, direction fresh.
- every other table is symlinked from the base sf dir so tables.load()
  works unchanged.

Usage: python scripts/scale_rehearsal.py [factor] [base_sf_dir] [out]
Writes a JSON summary line per query plus a final TOTAL line.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 10
BASE = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
OUT = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/scale_{FACTOR}x"
EVLOG = f"{OUT}/_eventlog"

HEAVY = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_survivors_authority",
    "corpus_prepare_training_data",
    "embedding_kmeans",
]
# override the query list without editing the file, e.g.
# SPARK_GRAFT_REHEARSAL_QUERIES=dedup_graph_hits,similarity_topk_binary
if os.environ.get("SPARK_GRAFT_REHEARSAL_QUERIES"):
    HEAVY = os.environ["SPARK_GRAFT_REHEARSAL_QUERIES"].split(",")

# SPARK_GRAFT_REHEARSAL_RELATIONAL=1 switches the blow-up to the
# RELATIONAL fact tables (lineitem / orders / events) for the
# TPC-H-shape + event-analytics headliners: disjoint replicas with
# shifted join/entity keys (l_orderkey, o_orderkey, event_id, user_id
# += k * 10_000_000), so per-key density for user-keyed windows stays
# constant while key count scales — the "more data makes more tasks,
# not bigger ones" model. Dimension tables (customer, part, ...) stay
# fixed, as they do in a real scale-up.
RELATIONAL = os.environ.get("SPARK_GRAFT_REHEARSAL_RELATIONAL") == "1"

# SPARK_GRAFT_REHEARSAL_ZIPF=1 (r6 verdict item 6): a DELIBERATELY
# zipf-skewed blow-up for the join family — the prior rehearsals scale
# volume on the synthetic distribution, which is df-flat; this mode
# builds the OTHER failure axis, concentrated keys:
# - documents: FACTOR x 5000 docs of 30 words drawn zipf(a=1.2) from a
#   5000-word vocabulary (rank-1 word in ~most docs -> hot shingles,
#   exercising the df cap / prefix ordering), plus 4% exact copies of
#   one template (a hot LSH band bucket >> max_bucket, exercising the
#   bucket cap).
# - events: base replicas with event_type REPLACED by a zipf draw over
#   100 types (type t0 holds ~40% of rows -> one giant join key,
#   exercising salted_join / AQE).
ZIPF = os.environ.get("SPARK_GRAFT_REHEARSAL_ZIPF") == "1"


def build_zipf_tables() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(OUT, exist_ok=True)
    os.makedirs(EVLOG, exist_ok=True)
    for t in "region nation customer supplier part orders lineitem embeddings".split():
        dst = f"{OUT}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)

    rng = np.random.default_rng(20260815)
    vocab_n, words_per_doc = 5000, 30
    ranks = np.arange(1, vocab_n + 1, dtype=np.float64)
    p = 1.0 / ranks**1.2
    p /= p.sum()
    base_docs = pq.read_table(f"{BASE}/documents.parquet")
    n_docs = base_docs.num_rows * FACTOR
    draws = rng.choice(vocab_n, size=(n_docs, words_per_doc), p=p)
    texts = [" ".join(f"w{w}" for w in row) for row in draws]
    template = texts[0]
    dup_ids = [i for i in range(n_docs) if i % 25 == 1]  # 4% exact copies
    for i in dup_ids:
        texts[i] = template
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array(["zipf"] * n_docs),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        },
        schema=base_docs.schema,
    )
    pq.write_table(docs, f"{OUT}/documents.parquet")

    import pyarrow.compute as pc

    ev = pq.read_table(f"{BASE}/events.parquet")
    parts = []
    for k in range(FACTOR):
        arrays = []
        for name in ev.column_names:
            col = ev[name]
            if name in ("event_id", "user_id"):
                col = pc.add(col, pa.scalar(k * 10_000_000, type=pa.int64()))
            arrays.append(col)
        parts.append(pa.Table.from_arrays(arrays, schema=ev.schema))
    big = pa.concat_tables(parts)
    tranks = np.arange(1, 101, dtype=np.float64)
    tp = 1.0 / tranks**1.5
    tp /= tp.sum()
    tdraw = rng.choice(100, size=big.num_rows, p=tp)
    etype = pa.array([f"t{r}" for r in tdraw])
    big = big.set_column(
        big.column_names.index("event_type"),
        pa.field("event_type", ev.schema.field("event_type").type),
        etype.cast(ev.schema.field("event_type").type),
    )
    pq.write_table(big, f"{OUT}/events.parquet")
    hot = int(np.sum(tdraw == 0))
    print(
        f"built zipf {OUT}: documents={n_docs} (dups={len(dup_ids)}), "
        f"events={big.num_rows} (hot type t0={hot} rows, "
        f"{100.0 * hot / big.num_rows:.1f}%)",
        file=sys.stderr,
    )
REL_SHIFTS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id", "user_id"),
}


def build_relational_tables() -> None:
    """Disjoint-replica blow-up of the relational fact tables,
    vectorized in Arrow (no per-row Python — 6 M lineitem rows at
    10×)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(OUT, exist_ok=True)
    os.makedirs(EVLOG, exist_ok=True)
    static = "region nation customer supplier part documents embeddings"
    for t in static.split():
        dst = f"{OUT}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    for t, shift_cols in REL_SHIFTS.items():
        base = pq.read_table(f"{BASE}/{t}.parquet")
        parts = [base]
        for k in range(1, FACTOR):
            arrays = []
            for name in base.column_names:
                col = base[name]
                if name in shift_cols:
                    col = pc.add(col, pa.scalar(k * 10_000_000, type=pa.int64()))
                arrays.append(col)
            parts.append(pa.Table.from_arrays(arrays, schema=base.schema))
        pq.write_table(pa.concat_tables(parts), f"{OUT}/{t}.parquet")
        print(f"built {OUT}/{t}.parquet: {base.num_rows * FACTOR} rows",
              file=sys.stderr)


def build_tables() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if ZIPF:
        build_zipf_tables()
        return
    if RELATIONAL:
        build_relational_tables()
        return

    os.makedirs(OUT, exist_ok=True)
    os.makedirs(EVLOG, exist_ok=True)
    for t in (
        "region nation customer supplier part orders lineitem events".split()
    ):
        dst = f"{OUT}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)

    docs = pq.read_table(f"{BASE}/documents.parquet")
    n = docs.num_rows
    d = docs.to_pydict()
    out = {k: list(v) for k, v in d.items()}
    for k in range(1, FACTOR):
        for i in range(n):
            rng = random.Random(k * 1_000_003 + d["doc_id"][i])
            words = (d["text"][i] or "").split()
            rng.shuffle(words)
            out["doc_id"].append(d["doc_id"][i] + k * 10_000_000)
            out["text"].append(" ".join(words))
            out["lang"].append(d["lang"][i])
            out["source"].append(d["source"][i])
            out["n_chars"].append(d["n_chars"][i])
    pq.write_table(pa.table(out, schema=docs.schema), f"{OUT}/documents.parquet")

    emb = pq.read_table(f"{BASE}/embeddings.parquet")
    e = emb.to_pydict()
    m = emb.num_rows
    eo = {k: list(v) for k, v in e.items()}
    for k in range(1, FACTOR):
        for i in range(m):
            vec = np.asarray(e["embedding"][i], dtype=np.float32)
            eo["vec_id"].append(e["vec_id"][i] + k * 10_000_000)
            eo["embedding"].append(np.roll(vec, k).tolist())
            eo["label"].append(e["label"][i])
    pq.write_table(pa.table(eo, schema=emb.schema), f"{OUT}/embeddings.parquet")
    print(
        f"built {OUT}: documents={n * FACTOR} embeddings={m * FACTOR}",
        file=sys.stderr,
    )


def stage_extremes() -> dict:
    """Max task input / shuffle-read / peak-memory across all tasks in
    the (single-application) event log, plus total task cpu vs wall."""
    mx = {"max_task_input_mb": 0.0, "max_task_shuffle_read_mb": 0.0,
          "max_task_peak_mem_mb": 0.0, "task_wall_s": 0.0, "task_cpu_s": 0.0}
    paths = []
    for root, _dirs, files in os.walk(EVLOG):
        paths.extend(os.path.join(root, fn) for fn in files)
    for path in paths:
        if path.endswith((".zstd", ".lz4", ".snappy")) or "appstatus" in path:
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                tm = ev.get("Task Metrics") or {}
                inp = (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = (tm.get("Shuffle Read Metrics") or {})
                srb = sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                peak = tm.get("Peak Execution Memory", 0)
                info = ev.get("Task Info") or {}
                wall = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                cpu = tm.get("Executor CPU Time", 0) / 1e9
                mx["max_task_input_mb"] = max(mx["max_task_input_mb"], inp / 1e6)
                mx["max_task_shuffle_read_mb"] = max(
                    mx["max_task_shuffle_read_mb"], srb / 1e6
                )
                mx["max_task_peak_mem_mb"] = max(
                    mx["max_task_peak_mem_mb"], peak / 1e6
                )
                mx["task_wall_s"] += wall
                mx["task_cpu_s"] += cpu
    return {k: round(v, 2) for k, v in mx.items()}


def main() -> None:
    build_tables()

    import bench
    from __spark_entry__ import queries

    spark = bench.build_spark(event_log_dir=EVLOG)
    spark.sparkContext.setLogLevel("ERROR")

    qs = queries()
    total = 0.0
    for name in HEAVY:
        t0 = time.monotonic()
        try:
            n = qs[name](spark, OUT).count()
        except ValueError as e:
            # candidate-budget guards raising at blow-up scale is the
            # designed outcome — record the fast failure as evidence
            dt = time.monotonic() - t0
            total += dt
            print(json.dumps({"query": name, "sec": round(dt, 2),
                              "guard_raised": str(e)[:200]}))
            spark.catalog.clearCache()
            continue
        dt = time.monotonic() - t0
        total += dt
        print(json.dumps({"query": name, "sec": round(dt, 2), "rows": n}))
        spark.catalog.clearCache()
    spark.stop()
    time.sleep(2)  # let the event log flush
    print(json.dumps({"total_sec": round(total, 2), "factor": FACTOR,
                      **stage_extremes()}))


if __name__ == "__main__":
    main()
