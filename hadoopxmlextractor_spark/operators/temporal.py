"""Temporal joins: the as-of family (point-in-time correctness).

The reference has no joins at all (SURVEY §2.3 — cross-rule correlation
is positional); this is the standard-category operator the union +
running-window formulation expresses Spark-natively:

- **backward** (the classic as-of): for each left row, the latest right
  row with ``r.ts <= l.ts`` in the same key group.
- **forward**: the earliest right row with ``r.ts >= l.ts``.
- **tolerance**: a matched row further than ``tolerance_seconds`` away
  is discarded (pandas ``merge_asof`` semantics: the nearest candidate
  is the ONLY candidate, so an out-of-tolerance nearest means no match).

Scale: ONE shuffle on the key column; the running ``last``/``first``
over the unioned stream is a streaming window frame with O(1) state per
key — the naive inequality join is O(left×right) per key and dies on
hot keys. Ties (equal timestamps) are resolved so a same-instant right
row IS visible to the left row, matching DuckDB's ``ASOF JOIN`` with
``>=`` / ``<=`` bounds, which the query oracles replay.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    start_col: str = "start",
    end_col: str = "end",
    bin_seconds: int = 3600,
    suffix: str = "_r",
) -> DataFrame:
    """Overlap join: pairs of (left, right) intervals on the same key
    whose ``[start, end]`` ranges intersect (inclusive bounds).

    Scale shape: a raw theta join (``l.start <= r.end AND r.start <=
    l.end``) is a per-key cross product. Instead each interval explodes
    into the fixed-width time bins it covers and the join runs as an
    EQUI-join on (key, bin) — candidates are pairs sharing a bin, the
    exact overlap predicate verifies, and a distinct collapses
    multi-bin duplicates. Cost tracks true overlap density, not |L|x|R|;
    pick ``bin_seconds`` near the typical interval length (too small
    inflates the explode, too large inflates candidates).
    """
    def binned(df: DataFrame, tag: str) -> DataFrame:
        s = F.unix_micros(F.col(start_col))
        e = F.unix_micros(F.col(end_col))
        step = int(bin_seconds * 1_000_000)
        return df.select(
            F.col(on),
            *[F.col(c).alias(c + ("" if tag == "l" else suffix))
              for c in df.columns if c != on],
            F.explode(
                F.sequence(
                    F.floor(s / step).cast("long"), F.floor(e / step).cast("long")
                )
            ).alias("_bin"),
        )

    lb = binned(left, "l")
    rb = binned(right, "r")
    overlap = (F.col(start_col) <= F.col(end_col + suffix)) & (
        F.col(start_col + suffix) <= F.col(end_col)
    )
    return lb.join(rb, [on, "_bin"]).filter(overlap).drop("_bin").distinct()


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    *,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    match_col: str = "asof_match",
) -> DataFrame:
    """Left rows + a ``match_col`` struct of the matched right row
    (null when nothing matches). ``right``'s columns are carried inside
    the struct, so arbitrary payloads ride along without name clashes.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")

    payload_type = (
        "struct<" + ", ".join(f"{f.name}:{f.dataType.simpleString()}" for f in right.schema.fields) + ">"
    )
    # side ordering makes a same-instant right row fall INSIDE the
    # left row's frame: backward scans (-inf, current] so right sorts
    # first at ties; forward scans [current, +inf) so right sorts last.
    right_side = 0 if direction == "backward" else 1
    r2 = right.select(
        F.col(on),
        F.col(ts_col),
        F.lit(right_side).alias("_side"),
        F.struct(*[F.col(c) for c in right.columns]).alias(match_col),
    )
    l2 = left.select(
        "*",
        F.lit(1 - right_side).alias("_side"),
        F.lit(None).cast(payload_type).alias(match_col),
    )
    unioned = l2.unionByName(r2, allowMissingColumns=True)

    w = Window.partitionBy(on).orderBy(ts_col, "_side")
    if direction == "backward":
        frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        matched = F.last(match_col, ignorenulls=True).over(frame)
    else:
        frame = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        matched = F.first(match_col, ignorenulls=True).over(frame)
    if tolerance_seconds is not None:
        delta = F.abs(
            F.unix_micros(matched[ts_col]) - F.unix_micros(F.col(ts_col))
        )
        matched = F.when(delta <= int(tolerance_seconds * 1_000_000), matched)

    return (
        unioned.withColumn(match_col, matched)
        .filter(F.col("_side") == 1 - right_side)
        .drop("_side")
    )


def scd2_history(
    changes: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a change
    log: per key, collapse consecutive identical states and emit one
    validity interval per state run — (key, state, eff_from_ms,
    eff_to_ms, version, is_current), half-open [from, to) with the
    open current row carrying a NULL end. The warehouse-standard way
    to make "what was this user's state at time T" a range lookup
    (pairs with :func:`asof_join` for the probe side).

    Ordering is (ts, tiebreak) so same-timestamp changes resolve
    deterministically. Scale: ONE shuffle — both windows and the
    change-collapse filter share the same (key, ts, tiebreak)
    partitioning+sort, so Catalyst plans a single exchange; state per
    key is O(1) streaming frames, never a collected list.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    ded = (
        changes.select(key_col, state_col, ts_col, tiebreak_col)
        .withColumn("_prev", F.lag(state_col).over(w))
        .filter(F.col("_prev").isNull() | (F.col(state_col) != F.col("_prev")))
    )
    return ded.select(
        F.col(key_col),
        F.col(state_col).alias("state"),
        F.unix_millis(F.col(ts_col)).alias("eff_from_ms"),
        F.unix_millis(F.lead(ts_col).over(w)).alias("eff_to_ms"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead(ts_col).over(w).isNull().alias("is_current"),
    )


def asof_join_cogroup(
    left: DataFrame, right: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Backward as-of join via ``groupBy().cogroup().applyInPandas`` —
    the per-key two-sided Arrow kernel surface (the API for custom
    per-key logic over TWO aligned inputs, e.g. sensor fusion or
    label alignment). Same semantics (and same oracle) as
    :func:`asof_join`: each left row gets ``asof_ts`` = the latest
    right timestamp <= its own within the key group, ties included.

    Scale: one shuffle per side on the key; each key's pair of groups
    meets in ONE Arrow batch where pandas ``merge_asof`` does a linear
    merge. Use :func:`asof_join` (union + running last, O(1) state)
    when the kernel is expressible relationally — this variant exists
    for kernels that are NOT, and it carries the usual cogroup caveat
    that a key's two groups must fit in executor memory together.
    """
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        list(left.schema.fields)
        + [StructField("asof_ts", left.schema[ts_col].dataType)]
    )
    cols = [f.name for f in left.schema.fields]
    # When both inputs derive from the same scan (the common
    # same-table case), their columns carry the SAME expression ids;
    # the cogroup plan deduplicates the clash and one side's column
    # silently vanishes from the Arrow batch (observed: right side
    # arriving as (n, 1) with only the key). Fresh aliases on the
    # right side force distinct attributes.
    right = right.select(
        F.col(key_col).alias("__asof_key"), F.col(ts_col).alias("__asof_ts_in")
    )

    def align(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=cols + ["asof_ts"])
        lpdf = lpdf.sort_values(ts_col)
        # a key absent from the right side arrives as an EMPTY frame
        # with no column metadata — guard before subsetting
        if rpdf.empty or "__asof_ts_in" not in rpdf.columns:
            out = lpdf.copy()
            out["asof_ts"] = pd.NaT
            return out
        r = (
            rpdf[["__asof_ts_in"]]
            .sort_values("__asof_ts_in")
            .rename(columns={"__asof_ts_in": "asof_ts"})
        )
        return pd.merge_asof(
            lpdf, r, left_on=ts_col, right_on="asof_ts", direction="backward"
        )

    return (
        left.groupBy(key_col)
        .cogroup(right.groupBy("__asof_key"))
        .applyInPandas(align, out_schema)
    )


def sessionize_table(
    events: DataFrame,
    *,
    gap_ms: int,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ms_col: str = "ms",
) -> DataFrame:
    """Gap-based sessionization reduced to the SESSION TABLE form:
    (user_id, session_id, start_ms, end_ms, n_events), session_id =
    1-based running count of session starts per user (lag + running
    sum, one user-keyed exchange — the events_sessionize shape with a
    per-session rollup on top, sharing the same exchange)."""
    w = Window.partitionBy(user_col).orderBy(ms_col, id_col)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = events.withColumn(
        "_ns",
        F.when(
            F.lag(ms_col).over(w).isNull()
            | ((F.col(ms_col) - F.lag(ms_col).over(w)) > gap_ms),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn("session_id", F.sum("_ns").over(wrun))
    return sess.groupBy(user_col, "session_id").agg(
        F.min(ms_col).cast("long").alias("start_ms"),
        F.max(ms_col).cast("long").alias("end_ms"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def sessionize_incremental(
    standing: DataFrame,
    new_events: DataFrame,
    *,
    gap_ms: int,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ms_col: str = "ms",
) -> DataFrame:
    """Merge an APPEND-ONLY batch of events into a standing session
    table without re-touching old events — the incremental half of the
    gap-sessionization pattern (late-binding session tables refreshed
    per landed batch).

    Precondition: per-user append-only arrival — every new event is at
    or after (``ms`` ≥) that user's last old event. Then only a user's
    LAST standing session can change: the batch's first event either
    falls within ``gap_ms`` of its end (the session extends, taking in
    the batch's leading run) or beyond it (a new session starts and the
    old one is already final). Every other session carries forward.

    Algebra: one key-partitioned, secondary-sorted pass — the
    reference's partition / sort / forward-fill idiom
    (``XmlExtractor.java`` partitioner and comparators). The standing
    sessions and the new events are unioned into one row shape
    ``(user, kind, k, id, sid, start, end, n)``:

    - a session row is ``kind=0``, sorted on ``k = session_id``, and
      carries its own ``(start_ms, end_ms, n_events)`` and id;
    - an event row is ``kind=1``, sorted on ``(k, id) = (ms,
      event_id)``, and carries ``(ms, ms, 1)``.

    One window ``partitionBy(user).orderBy(kind, k, id)`` puts each
    user's sessions in id order ahead of its events, so the row before
    the first event is the max-id session, whose end is the user's last
    old event. An event starts a session when ``lag(end)`` is NULL or
    ``ms − lag(end) > gap_ms`` (the :func:`sessionize_table` rule, so
    a gap exactly at ``gap_ms`` continues); its id is
    ``coalesce(running max(session id), 0) + running sum(starts)``, so
    a continuing run lands on exactly the last standing session's id.
    A session row keeps its own id. One ``groupBy(user, id)`` with
    ``min(start)``, ``max(end)``, ``sum(n)`` then folds the continued
    session and its new events together and leaves every other session
    as it was.

    Cost per batch: one hash exchange on ``user`` over standing ∪
    batch rows (the window's; the grouping reuses its partitioning), one
    sort, no join, no broadcast, no cache and no eager job. Old EVENTS
    are never read — the session table is session-cardinality, the
    event log event-cardinality.

    Inputs: ``standing`` = (user, session_id, start_ms, end_ms,
    n_events) — :func:`sessionize_table` output; ``new_events`` =
    (user, event_id, ms). Output: the new standing table, IDENTICAL
    to a from-scratch :func:`sessionize_table` over all events
    (oracle-checked by `events_sessionize_incremental`).
    """
    id_type = new_events.schema[id_col].dataType
    sessions = standing.select(
        user_col,
        F.lit(0).alias("_kind"),
        F.col("session_id").cast("long").alias("_k"),
        F.lit(None).cast(id_type).alias("_id"),
        F.col("session_id").cast("long").alias("_sid"),
        F.col("start_ms").cast("long").alias("_start"),
        F.col("end_ms").cast("long").alias("_end"),
        F.col("n_events").cast("long").alias("_n"),
    )
    ms = F.col(ms_col).cast("long")
    events = new_events.select(
        user_col,
        F.lit(1).alias("_kind"),
        ms.alias("_k"),
        F.col(id_col).alias("_id"),
        F.lit(None).cast("long").alias("_sid"),
        ms.alias("_start"),
        ms.alias("_end"),
        F.lit(1).cast("long").alias("_n"),
    )
    w = Window.partitionBy(user_col).orderBy("_kind", "_k", "_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = (
        sessions.unionByName(events)
        .withColumn("_prev", F.lag("_end").over(w))
        .withColumn(
            "_ns",
            F.when(
                (F.col("_kind") == 1)
                & (
                    F.col("_prev").isNull()
                    | ((F.col("_start") - F.col("_prev")) > gap_ms)
                ),
                1,
            ).otherwise(0),
        )
    )
    ided = marked.withColumn(
        "session_id",
        F.coalesce(
            F.col("_sid"),
            F.coalesce(F.max("_sid").over(wrun), F.lit(0))
            + F.sum("_ns").over(wrun),
        ),
    )
    return ided.groupBy(user_col, "session_id").agg(
        F.min("_start").alias("start_ms"),
        F.max("_end").alias("end_ms"),
        F.sum("_n").alias("n_events"),
    )
