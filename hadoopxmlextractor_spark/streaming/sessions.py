"""Continuously-maintained SESSION TABLE: a stream of (user, event_id,
ms) events folded into the standing gap-session table per micro-batch,
exactly-once.

The composition mirrors ``streaming/leaderboard.py``: per batch,
:func:`operators.temporal.sessionize_incremental` merges the batch
into the standing table in one user-keyed sorted pass — the standing
sessions and the batch's events are unioned, sorted per user with the
sessions (in id order) ahead of the events, and one running window
decides whether the batch's leading run extends the user's last
session or opens new ones; one grouping folds the result (append-only
arrival ⇒ only each dirty user's LAST session can extend/merge; old
EVENTS are never re-read — the session table plus the batch suffice;
no join, broadcast or cache, so no per-batch state outlives the
batch), and the result lands as a new
snapshot version whose pointer commits the version AND the batch id
in one atomic rename (:func:`snapshots.write_snapshot` with
``batch_id``): a crash at ANY point either leaves the pointer
untouched (replay reruns the merge from the still-current v=N; the
orphan parquet directory is skipped by version allocation) or leaves
the batch marked committed (replay is a no-op) — never a committed
version whose batch replays on top of it. The session table is
session-cardinality, so the merge plan writes DIRECTLY from v=N to
v=N+1 — the same read-old-write-new shape ``commit_upsert`` already
exercises.

Contrast with ``streaming/events.py`` session WINDOWS: Spark's
session_window emits closed windows past the watermark and keeps open
ones in state — the aggregate stream. This sink maintains the session
TABLE AS DATA (queryable, time-travelable, joinable mid-session),
which is what feature stores and activity dashboards read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hadoopxmlextractor_spark.operators.temporal import (
    sessionize_incremental,
    sessionize_table,
)
from hadoopxmlextractor_spark.snapshots import (
    last_committed_batch,
    latest_version,
    read_snapshot,
    vacuum,
    write_snapshot,
)


def make_session_table_sink(
    table_dir: str,
    *,
    gap_ms: int,
    vacuum_every: int | None = None,
    keep_last: int = 3,
):
    """foreachBatch function: standing sessions + batch → new version,
    skipped when this batch_id already committed (crash replay). The
    version pointer carries the batch id, so the commit is one atomic
    rename — no interleaving of crash and replay can double-count a
    session's n_events.

    Retention: a long-running sink commits one full copy-on-write
    snapshot per micro-batch, so history (and the O(#versions)
    directory listing in version allocation) grows linearly without
    reclamation — set ``vacuum_every`` to vacuum every N committed
    batches, keeping the newest ``keep_last`` versions (measured
    curve: SCALE.md §continuous-sinks). Vacuum runs AFTER the atomic
    commit, so a crash mid-vacuum costs only unreclaimed storage."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= last_committed_batch(table_dir):
            return  # replayed after restart — version already durable
        batch = batch_df.select("user_id", "event_id", "ms")
        if latest_version(table_dir) is None:
            merged = sessionize_table(batch, gap_ms=gap_ms)
        else:
            standing = read_snapshot(batch_df.sparkSession, table_dir)
            merged = sessionize_incremental(standing, batch, gap_ms=gap_ms)
        write_snapshot(merged, table_dir, batch_id=batch_id)
        if vacuum_every and batch_id > 0 and batch_id % vacuum_every == 0:
            vacuum(table_dir, keep_last=keep_last)

    return sink


def session_table_stream(
    stream: DataFrame,
    table_dir: str,
    *,
    gap_ms: int,
    checkpoint_dir: str,
    vacuum_every: int | None = None,
    keep_last: int = 3,
):
    """Start the continuous session-table maintenance query."""
    return (
        stream.writeStream.foreachBatch(
            make_session_table_sink(
                table_dir,
                gap_ms=gap_ms,
                vacuum_every=vacuum_every,
                keep_last=keep_last,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
