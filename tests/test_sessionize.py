"""Incremental sessionization: the batch merge equals the from-scratch
session table.

``sessionize_incremental(sessionize_table(old), new)`` must equal
``sessionize_table(old ∪ new)`` row for row on every append-only split
(each new event at or after its user's last old event).
"""

from __future__ import annotations

from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoopxmlextractor_spark.operators.temporal import (
    sessionize_incremental,
    sessionize_table,
)

GAP = 10
SCHEMA = "user_id long, event_id long, ms long"
# Steps between a user's consecutive events: equal ms (0), just inside,
# exactly at (continues: the break rule is ``>``) and just past the gap,
# and a wide break.
STEPS = (0, 1, GAP - 1, GAP, GAP + 1, 3 * GAP)


def _split(users):
    """Three append-only generations from per-user (steps, cut1, cut2).

    Each user's events are ordered by (ms, event_id) and cut at
    ``k1 <= k2``: events before k1 are generation 0, [k1, k2) generation
    1, the rest generation 2. Event ids are scrambled so that the
    tie-break among equal-ms events differs from generation order."""
    gens = ([], [], [])
    eid = 0
    for user, (steps, a, b) in enumerate(users):
        ms, evs = 0, []
        for step in steps:
            ms += step
            eid += 1
            evs.append((user, (eid * 7919) % 10007, ms))
        evs.sort(key=lambda e: (e[2], e[1]))
        k1 = min(a, len(evs))
        k2 = max(k1, min(b, len(evs)))
        gens[0].extend(evs[:k1])
        gens[1].extend(evs[k1:k2])
        gens[2].extend(evs[k2:])
    return gens


def _rows(df, tag):
    return df.select(
        F.lit(tag).alias("tag"),
        "user_id",
        "session_id",
        "start_ms",
        "end_ms",
        "n_events",
    )


user = st.tuples(
    st.lists(st.sampled_from(STEPS), min_size=1, max_size=6),
    st.integers(0, 6),
    st.integers(0, 6),
)


@given(st.lists(user, max_size=6))
# users only in the standing table (cut at n) and only in the batch
# (cut at 0); a cut between equal-ms events puts a batch event at its
# user's last old ms; a batch continuing the second of two standing
# sessions
@example([
    ([0, 3, 0, 0], 6, 6), ([1, 10], 0, 1), ([0, 0, 0], 2, 2),
    ([0, 30, 1, 1], 3, 4),
])
# the gap exactly at GAP across both generation boundaries
@example([([0, GAP, GAP, GAP + 1, GAP], 1, 3)])
# an empty first batch, then a non-empty second one
@example([([0, 1, 30], 2, 2), ([5, GAP], 1, 1)])
# an empty standing table
@example([([0, 11], 0, 2), ([3], 0, 0)])
# no events at all
@example([])
# no shrink phase: every example costs a few Spark jobs, so a failure
# is reported as generated rather than shrunk over hundreds of reruns
@settings(
    max_examples=12,
    deadline=None,
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
    suppress_health_check=[HealthCheck.too_slow],
)
def test_incremental_equals_recompute_over_two_generations(spark, users):
    g0, g1, g2 = (spark.createDataFrame(g, SCHEMA) for g in _split(users))
    standing = sessionize_table(g0, gap_ms=GAP)
    gen1 = sessionize_incremental(standing, g1, gap_ms=GAP)
    gen2 = sessionize_incremental(gen1, g2, gap_ms=GAP)
    want1 = sessionize_table(g0.unionByName(g1), gap_ms=GAP)
    want2 = sessionize_table(g0.unionByName(g1).unionByName(g2), gap_ms=GAP)
    assert gen2.dtypes == want2.dtypes
    # one action for all four tables
    rows = (
        _rows(gen1, "gen1")
        .unionByName(_rows(want1, "want1"))
        .unionByName(_rows(gen2, "gen2"))
        .unionByName(_rows(want2, "want2"))
        .collect()
    )
    by = {t: sorted(tuple(r)[1:] for r in rows if r.tag == t) for t in
          ("gen1", "want1", "gen2", "want2")}
    assert by["gen1"] == by["want1"]
    assert by["gen2"] == by["want2"]

