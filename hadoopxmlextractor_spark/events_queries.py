"""Event-stream analytics queries: hopping (sliding) windows, weekly
cohort retention, and ordered funnel conversion over the ``events``
table. These are the batch twins of the Structured Streaming layer
(``streaming/events.py``) — same logical plans, driver-oracle-checked.

Canonical types per CLAUDE.md: window starts emitted as epoch millis,
money/value sums accumulate as DECIMAL(18,2) and cast to DOUBLE, counts
cast to BIGINT in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoopxmlextractor_spark.queries import DEC, query
from hadoopxmlextractor_spark.tables import load


@query(
    "events_hopping_window",
    """
    WITH e AS (
      SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_type, value FROM events
    ),
    expanded AS (
      SELECT (ms // 300000) * 300000 AS window_start_ms, event_type, value FROM e
      UNION ALL
      SELECT (ms // 300000) * 300000 - 300000 AS window_start_ms, event_type, value
      FROM e
    )
    SELECT window_start_ms, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM expanded GROUP BY 1, 2
    """,
)
def q_events_hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    # Hopping/sliding window (10-minute windows every 5 minutes) via the
    # built-in F.window — each event lands in exactly two windows, which
    # the oracle replays as a UNION ALL of the two shifted tumbling
    # grids (both boundaries are whole-second, so epoch-ms floor
    # arithmetic and Spark's microsecond window assignment agree).
    # Scale: the window struct is a per-row projection; the only
    # shuffle is the (window, type)-keyed aggregate, map-side-combined
    # over the 2× expansion. Streaming twin: same expression under
    # readStream + watermark in streaming/events.py.
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_retention",
    """
    WITH weekly AS (
      SELECT DISTINCT date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk, user_id
      FROM events
    )
    SELECT epoch_ms(a.wk) AS week_start_ms,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
           CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS retained_users,
           ROUND(CAST(COUNT(DISTINCT b.user_id) AS DOUBLE)
                 / COUNT(DISTINCT a.user_id), 4) AS retention_rate
    FROM weekly a
    LEFT JOIN weekly b
      ON b.user_id = a.user_id AND b.wk = a.wk + INTERVAL 7 DAY
    GROUP BY a.wk
    """,
)
def q_events_retention(spark: SparkSession, sf: str) -> DataFrame:
    # Weekly cohort retention: users active in week w who return in
    # w+1. The DISTINCT (week, user) projection collapses the event
    # stream to its activity matrix FIRST (at 100 TB this is the step
    # that shrinks billions of events to |users|×|weeks| rows), then a
    # self-join on (user, adjacent week) — both sides shuffle on
    # user_id, one exchange under AQE. Week truncation is Monday-based
    # in both engines.
    weekly = (
        load(spark, sf, "events")
        .select(F.date_trunc("week", "ts").alias("wk"), "user_id")
        .distinct()
    )
    a, b = weekly.alias("a"), weekly.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.wk") == F.col("a.wk") + F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .groupBy(F.col("a.wk"))
        .agg(
            F.countDistinct(F.col("a.user_id")).alias("active_users"),
            F.countDistinct(F.col("b.user_id")).alias("retained_users"),
            F.round(
                F.countDistinct(F.col("b.user_id")).cast("double")
                / F.countDistinct(F.col("a.user_id")),
                4,
            ).alias("retention_rate"),
        )
        .select(
            F.unix_millis(F.col("wk")).alias("week_start_ms"),
            "active_users",
            "retained_users",
            "retention_rate",
        )
    )


@query(
    "events_funnel",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS viewed,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
             AS clicked_after_view,
           CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_funnel
    FROM firsts
    """,
)
def q_events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    # Ordered funnel (view → click → purchase by first occurrence):
    # conditional-MIN pivots the per-user event history into one row —
    # one shuffle on user_id with near-total map-side combine — then a
    # single global aggregate counts each stage. NULL-safe ordering
    # comparisons (a missing stage never counts) behave identically in
    # both engines. Timestamps stay internal; outputs are counts only.
    firsts = (
        load(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "t_purchase"
            ),
        )
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("viewed"),
        F.sum(F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)).alias(
            "clicked_after_view"
        ),
        F.sum(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        ).alias("purchased_after_funnel"),
    )


@query(
    "agg_salted_hot_keys",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q_agg_salted_hot_keys(spark: SparkSession, sf: str) -> DataFrame:
    # The adversarial low-cardinality aggregate (5 event types, every
    # row lands on one of 5 reducers) through the two-phase salted
    # aggregation from operators/skew.py: phase 1 spreads each hot key
    # over 16 salt partitions, phase 2 merges 16 partials per key. The
    # oracle is the plain GROUP BY — salting must be invisible in the
    # result, which holds exactly because the value sum accumulates as
    # DECIMAL (order-independent), not double, through both phases.
    from hadoopxmlextractor_spark.operators.skew import salted_agg

    ev = load(spark, sf, "events").withColumn("v_dec", F.col("value").cast(DEC))
    out = salted_agg(
        ev,
        "event_type",
        {"n_events": ("value", "count"), "total_value": ("v_dec", "sum")},
        n_salts=16,
    )
    return out.select(
        "event_type", "n_events", F.col("total_value").cast("double").alias("total_value")
    )


@query(
    "events_zscore_topk",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM events GROUP BY event_type
    )
    SELECT event_id, event_type,
           ROUND((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
    FROM events JOIN stats USING (event_type)
    ORDER BY abs(ROUND((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6))
             DESC, event_id
    LIMIT 20
    """,
)
def q_events_zscore_topk(spark: SparkSession, sf: str) -> DataFrame:
    # Per-type z-score normalization + top-k outliers: the standard
    # feature-engineering/anomaly op, made engine-exact by building
    # mean/variance from DECIMAL first and second moments (one
    # group-aggregate pass) instead of AVG/STDDEV over doubles, whose
    # summation order differs per engine. The 5-row stats table
    # broadcasts back onto the scan; top-k is TakeOrderedAndProject.
    # Identical arithmetic ORDER on both sides: mean = s1/n,
    # var = s2/n - mean², z = (value-mean)/sqrt(var).
    ev = load(spark, sf, "events")
    vdec = F.col("value").cast(DEC)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("double").alias("s1"),
        F.sum(vdec * vdec).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = F.round((F.col("value") - mean) / F.sqrt(var), 6)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", z.alias("z"))
        .orderBy(F.abs(F.col("z")).desc(), "event_id")
        .limit(20)
    )


@query(
    "events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, m.med,
             ROUND(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_type, d.med, d.mad,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN abs(e.value - d.med) > 3 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad d USING (event_type)
    GROUP BY e.event_type, d.med, d.mad
    """,
)
def q_events_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    # Robust (median/MAD) outlier audit per event type — the resilient
    # twin of events_zscore_topk: a handful of extreme values shifts a
    # mean/stddev fence but leaves median/MAD untouched. Exact grouped
    # percentiles (sort-based agg state bounded per group), each
    # dimension-sized stats table BROADCAST back onto the next events
    # scan — three scans, zero fact-side shuffles. Each percentile
    # output is ROUNDED before feeding the next derived column, so both
    # engines interpolate over bit-identical inputs.
    ev = load(spark, sf, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.round(F.expr("percentile(abs(value - med), 0.5)"), 4).alias("mad"))
    )
    dev = F.abs(F.col("value") - F.col("med"))
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(dev > F.lit(3) * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


@query(
    "join_salted_hot_keys",
    """
    WITH dim AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(abs(e.value - d.s1 / d.n), 4)
                         AS DECIMAL(18,4))) AS DOUBLE) AS sum_abs_dev
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_join_salted_hot_keys(spark: SparkSession, sf: str) -> DataFrame:
    # Salted fact-dim join on the hottest key in the schema (5 event
    # types over every row): operators.skew.salted_join replicates the
    # dim n_salts ways and spreads each hot key over n_salts tasks, so
    # a sort-merge join never puts one type's rows in one task. At this
    # SF, AQE correctly demotes the tiny dim to a broadcast (salting is
    # the fallback for dims too big to broadcast — same reasoning as
    # the static-plan notes in SCALE.md); the result is identical
    # either way, which is exactly what the oracle (a plain unsalted
    # join) certifies. Deviations round then accumulate as DECIMAL so
    # per-engine summation order cannot drift the double total.
    from hadoopxmlextractor_spark.operators.skew import salted_join

    ev = load(spark, sf, "events").select("event_type", "value")
    vdec = F.col("value").cast(DEC)
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("double").alias("s1"),
    )
    joined = salted_join(ev, dim, "event_type", n_salts=16)
    dev = F.round(F.abs(F.col("value") - F.col("s1") / F.col("n")), 4).cast(
        "decimal(18,4)"
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dev).cast("double").alias("sum_abs_dev"),
    )


@query(
    "events_markov_transitions",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    totals AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS row_total FROM trans
      GROUP BY event_type
    )
    SELECT t.event_type, t.next_type, t.n,
           ROUND(CAST(t.n AS DOUBLE) / r.row_total, 6) AS p
    FROM trans t JOIN totals r USING (event_type)
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    # First-order Markov transition matrix over per-user event streams
    # (the behavioral-model building block: P(next_type | type)). ONE
    # user-keyed shuffle feeds the lead() window (ties broken by the
    # unique event_id, so successor pairs are deterministic); the pair
    # aggregate is then |types|²-bounded and its row totals broadcast
    # back — the fact table never shuffles again. Probabilities divide
    # exact BIGINT counts, so both engines round identical doubles.
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    trans.count()  # eager: feeds both the row totals and the final join
    totals = trans.groupBy("event_type").agg(F.sum("n").cast("long").alias("row_total"))
    return trans.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("p"),
    )


@query(
    "events_attribution",
    """
    WITH ev AS (
      SELECT event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, user_id,
             event_type, value
      FROM events
    ),
    marked AS (
      SELECT *,
        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_type,
        last_value(CASE WHEN event_type <> 'purchase' THEN ms END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ms
      FROM ev
    )
    SELECT
      CASE WHEN prev_ms IS NOT NULL AND ms - prev_ms <= 3600000
           THEN prev_type ELSE 'direct' END AS channel,
      CAST(COUNT(*) AS BIGINT) AS conversions,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
    FROM marked WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_events_attribution(spark: SparkSession, sf: str) -> DataFrame:
    # Last-touch conversion attribution: each purchase credits the most
    # recent NON-purchase event by the same user within the preceding
    # hour (else 'direct'). One user-keyed window pass computes the
    # carry-forward (last ... ignore nulls over an unbounded-preceding
    # frame is O(1) running state per user, not a per-row rescan), the
    # purchase filter then shrinks the stream to conversions only, and
    # the channel rollup is a dimension-sized aggregate — one fact
    # shuffle end to end, same shape at 100 TB. Epoch-millis
    # arithmetic keeps the 1-hour lookback exact across engines.
    ev = load(spark, sf, "events").select(
        "event_id",
        F.unix_millis(F.col("ts")).alias("ms"),
        "user_id",
        "event_type",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    marked = ev.select(
        "*",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("prev_type"),
        F.last(F.when(non_purchase, F.col("ms")), ignorenulls=True)
        .over(w)
        .alias("prev_ms"),
    )
    return (
        marked.filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("prev_ms").isNotNull()
                & (F.col("ms") - F.col("prev_ms") <= 3600000),
                F.col("prev_type"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("attributed_value"),
        )
    )


@query(
    "events_trend_slope",
    """
    WITH ev AS (
      SELECT event_type,
             (epoch_ms(CAST(ts AS TIMESTAMP)) - 1704067200000) // 1000 AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
             CAST(SUM(x) AS DECIMAL(19,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(19,0)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(19,0)) AS sxy,
             CAST(SUM(x * x) AS DECIMAL(19,0)) AS sxx,
             CAST(SUM(y * y) AS DECIMAL(19,0)) AS syy
      FROM ev GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE), 12) AS slope_cents_per_s,
      ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE)), 8) AS r2
    FROM agg
    """,
)
def q_events_trend_slope(spark: SparkSession, sf: str) -> DataFrame:
    # Per-group closed-form OLS (value-vs-time trend per event type):
    # slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), plus r². The moments
    # accumulate as INTEGERS (seconds since 2024-01-01, value in
    # cents), so the whole regression up to the final division is
    # exact and engine-independent — the same trick as the DECIMAL
    # money sums, applied to second-order moments. DECIMAL(19,0)
    # operands make every combine product fit DECIMAL(38,0) exactly in
    # both engines; at 100 TB the per-row products stay within bigint
    # (x ≤ 2.6e6 s, y ≤ 5.6e4 cents) and the sums would move to
    # DECIMAL(38,0) accumulators. One partial-agg shuffle onto
    # |event_type| rows — the map-side combine collapses everything
    # before the exchange.
    ev = load(spark, sf, "events").select(
        "event_type",
        F.expr("(unix_millis(ts) - 1704067200000) div 1000").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    d19 = "decimal(19,0)"
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d19).alias("n"),
        F.sum("x").cast(d19).alias("sx"),
        F.sum("y").cast(d19).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d19).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d19).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(d19).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    m = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(num / den, 12).alias("slope_cents_per_s"),
        F.round(num * num / (den * m), 8).alias("r2"),
    )


@query(
    "events_twap",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    weighted AS (
      SELECT event_type, cents,
             lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS dt
      FROM ev
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_weighted,
           ROUND(CAST(SUM(CAST(cents * dt AS DECIMAL(38,0))) AS DOUBLE)
                 / CAST(SUM(CAST(dt AS DECIMAL(38,0))) AS DOUBLE) / 100.0, 6)
             AS twap
    FROM weighted WHERE dt IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_twap(spark: SparkSession, sf: str) -> DataFrame:
    # Time-weighted average value per event type: each observation is
    # weighted by how long it "held" (ms until the user's next event —
    # a lead over the same one user-keyed exchange every sequence
    # query rides). Integer arithmetic end-to-end (cents × ms), with
    # per-row products in bigint (≤ 5.6e4 × 2.6e9 ≈ 1.5e14) and the
    # corpus-wide sums in DECIMAL(38,0) accumulators — at 1e11 rows a
    # bigint sum would wrap, the decimal never does. One window pass +
    # one dimension-sized aggregate.
    ev = load(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts")).alias("ms"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    weighted = ev.select(
        "event_type", "cents", (F.lead("ms").over(w) - F.col("ms")).alias("dt")
    ).filter(F.col("dt").isNotNull())
    return weighted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_weighted"),
        F.round(
            F.sum((F.col("cents") * F.col("dt")).cast("decimal(38,0)")).cast("double")
            / F.sum(F.col("dt").cast("decimal(38,0)")).cast("double")
            / 100.0,
            6,
        ).alias("twap"),
    )


@query(
    "agg_hll_daily_merge",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS monthly_users
    FROM events GROUP BY event_type
    """,
)
def q_agg_hll_daily_merge(spark: SparkSession, sf: str) -> DataFrame:
    # The MERGEABLE-sketch cardinality workflow: build one Apache
    # DataSketches HLL per (type, day), then union the daily sketches
    # into the monthly estimate — at 100 TB the daily sketches are the
    # few-KB pre-aggregate you materialize once, and every later
    # rollup (weekly, monthly, all-time, cross-type) is a union of
    # sketches, never a rescan. approx_count_distinct can't do this
    # (its HLL++ state isn't exposed for re-aggregation; datasketches'
    # is a first-class binary column).
    #
    # Oracle note: a DataSketches HLL at lgK=14 stays in SPARSE mode —
    # an exact hash set — until ~2^14 distinct keys, and the test
    # corpus has 1.5k users at sf0.1 (150 at the driver's sf0.01), so
    # the union's estimate is EXACT here and the COUNT(DISTINCT)
    # oracle is a true equality, not a tolerance. The general ±2%
    # approximation regime (past sparse promotion) is gated in
    # tests/test_approx_quality.py instead.
    ev = load(spark, sf, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("bigint")
        .alias("monthly_users"),
    )


@query(
    "events_association_rules",
    """
    WITH u AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type FROM events
    ),
    n_b AS (SELECT CAST(COUNT(DISTINCT (user_id, d)) AS BIGINT) AS n FROM u),
    per_type AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM u GROUP BY 1
    ),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM u a JOIN u b ON a.user_id = b.user_id AND a.d = b.d
                        AND a.event_type <> b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) / n.n, 6) AS support,
           ROUND(CAST(n_ab AS DOUBLE) / ta.n_t, 6) AS confidence,
           ROUND(CAST(n_ab AS DOUBLE) / ta.n_t
                 / (CAST(tb.n_t AS DOUBLE) / n.n), 6) AS lift
    FROM co JOIN per_type ta ON ta.event_type = co.type_a
    JOIN per_type tb ON tb.event_type = co.type_b CROSS JOIN n_b n
    """,
)
def q_events_association_rules(spark: SparkSession, sf: str) -> DataFrame:
    # Market-basket association rules over (user, day) baskets:
    # support / confidence / lift for every ordered event-type pair.
    # The DISTINCT basket projection collapses the raw stream FIRST
    # (billions of events → |users|·|days|·|types| rows — the same
    # shrink-then-join shape as retention); the self-join shuffles on
    # the uniform (user, day) key with fan-out capped at |types|² per
    # basket, and everything after is dimension-sized with broadcast
    # type totals. Counts are exact integers; the three ratios round
    # identically on both engines.
    ev = load(spark, sf, "events")
    u = (
        ev.select("user_id", F.to_date("ts").alias("d"), "event_type")
        .distinct()
        .persist()
    )
    u.count()  # eager: feeds basket count, per-type totals, and both join sides
    n_baskets = u.select("user_id", "d").distinct().count()
    per_type = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = u.select("user_id", "d", F.col("event_type").alias("type_a"))
    b = u.select("user_id", "d", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, ["user_id", "d"])
        .filter(F.col("type_a") != F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_t_a")
    )
    tb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_t_b")
    )
    return (
        co.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(F.col("n_ab") / F.lit(n_baskets), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_t_a"), 6).alias("confidence"),
            F.round(
                F.col("n_ab")
                / F.col("n_t_a")
                / (F.col("n_t_b") / F.lit(n_baskets)),
                6,
            ).alias("lift"),
        )
    )


@query(
    "events_scd2_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type AS state, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), ded AS (
      SELECT * FROM ordered WHERE prev IS NULL OR state <> prev
    )
    SELECT user_id, state,
           epoch_ms(CAST(ts AS TIMESTAMP)) AS eff_from_ms,
           epoch_ms(CAST(LEAD(ts) OVER w AS TIMESTAMP)) AS eff_to_ms,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM ded
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_events_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    # SCD type-2 dimension build from the event change log: collapse
    # per-user consecutive identical states, then half-open validity
    # intervals [eff_from, eff_to) with a NULL-ended current row —
    # the warehouse-standard history table that turns "state at time
    # T" into a range lookup. One user-keyed shuffle; the collapse
    # filter and both interval windows share a single exchange+sort.
    from hadoopxmlextractor_spark.operators.temporal import scd2_history

    events = load(spark, sf, "events")
    return scd2_history(events, "user_id", "event_type", "ts", "event_id")


@query(
    "events_ewma_spikes",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    lagged AS (
      SELECT user_id, event_id, ts_ms, cents,
             LAG(cents, 1) OVER w AS c1, LAG(cents, 2) OVER w AS c2,
             LAG(cents, 3) OVER w AS c3, LAG(cents, 4) OVER w AS c4,
             LAG(cents, 5) OVER w AS c5, LAG(cents, 6) OVER w AS c6,
             LAG(cents, 7) OVER w AS c7
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
    )
    SELECT user_id, event_id, ts_ms, cents,
           CAST(cents * 128 + COALESCE(c1, 0) * 64 + COALESCE(c2, 0) * 32
              + COALESCE(c3, 0) * 16 + COALESCE(c4, 0) * 8
              + COALESCE(c5, 0) * 4 + COALESCE(c6, 0) * 2
              + COALESCE(c7, 0) AS BIGINT) AS ewma_fp,
           CAST(128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
              + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
              + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
              + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
              + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
              + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
              + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS weight_fp,
           (ABS(cents * (CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
                + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
                + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
                + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END)
              - (COALESCE(c1, 0) * 64 + COALESCE(c2, 0) * 32
                + COALESCE(c3, 0) * 16 + COALESCE(c4, 0) * 8
                + COALESCE(c5, 0) * 4 + COALESCE(c6, 0) * 2
                + COALESCE(c7, 0)))
            > 12000 * (CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
                + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
                + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
                + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END)) AS is_spike
    FROM lagged
    """,
)
def q_events_ewma_spikes(spark: SparkSession, sf: str) -> DataFrame:
    # EWMA smoothing + spike flag per user value stream, EXACT: alpha
    # = 1/2 over the last 8 observations gives power-of-two weights,
    # so the fixed-point ewma (x 128) is a plain bigint dot product —
    # no float accumulation, engine-identical. The spike test compares
    # |cents - history_ewma| > $10 cross-multiplied into integers
    # (history = lags 1..7 with weights 64..1, the same geometric
    # ladder), so the flag is exact too. One user-keyed exchange
    # shared by all 7 lags (one window frame).
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    ev = load(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    lags = {k: F.lag("cents", k).over(w) for k in range(1, 8)}
    weights = {k: 1 << (7 - k) for k in range(1, 8)}
    hist_sum = sum(
        (F.coalesce(lags[k], F.lit(0)) * weights[k] for k in range(2, 8)),
        F.coalesce(lags[1], F.lit(0)) * weights[1],
    )
    hist_w = sum(
        (F.when(lags[k].isNull(), 0).otherwise(weights[k]) for k in range(2, 8)),
        F.when(lags[1].isNull(), 0).otherwise(weights[1]),
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_ms",
        "cents",
        (F.col("cents") * 128 + hist_sum).cast("bigint").alias("ewma_fp"),
        (F.lit(128) + hist_w).cast("bigint").alias("weight_fp"),
        # |cents - hist_ewma| > $120 (~p95 of this stream), cross-multiplied by the (integer)
        # present-weight sum so the test never divides: first rows with
        # no history get hist_w = 0 -> 0 > 0 -> never a spike.
        (
            F.abs(F.col("cents") * hist_w - hist_sum)
            > F.lit(12000) * hist_w
        ).alias("is_spike"),
    )


@query(
    "join_asof_cogroup",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id,
           epoch_ms(CAST(p.ts AS TIMESTAMP)) AS purchase_ms,
           epoch_ms(CAST(c.ts AS TIMESTAMP)) AS last_click_ms
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof_cogroup(spark: SparkSession, sf: str) -> DataFrame:
    # The SAME as-of semantics as join_asof, through the
    # cogroup-applyInPandas surface: per-user purchase and click
    # groups meet in one Arrow batch where pandas merge_asof runs the
    # linear merge. Identical oracle to join_asof — driver-checked
    # proof that the custom-kernel API path agrees with the
    # relational union+running-last formulation.
    from hadoopxmlextractor_spark.operators.temporal import asof_join_cogroup

    ev = load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join_cogroup(purchases, clicks, "user_id", "ts").select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("purchase_ms"),
        F.unix_millis("asof_ts").alias("last_click_ms"),
    )


@query(
    "events_pit_training_features",
    """
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    feat AS (
      SELECT user_id, event_id, event_type, ms,
             LAG(event_type) OVER w AS prev_type,
             COUNT(*) OVER w7 AS n_events_7d,
             CAST(COALESCE(SUM(CAST(cents AS DECIMAL(38,0))) OVER w7, 0)
                  AS BIGINT) AS spend_7d_cents
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id),
             w7 AS (PARTITION BY user_id ORDER BY ms
                    RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS label_event_id, user_id, ms AS label_ms,
           prev_type, CAST(n_events_7d AS BIGINT) AS n_events_7d,
           spend_7d_cents
    FROM feat WHERE event_type = 'purchase'
    """,
)
def q_events_pit_training_features(spark: SparkSession, sf: str) -> DataFrame:
    # Point-in-time-correct training-set assembly — the feature-store
    # core: for every label event (purchase), attach features computed
    # ONLY from that user's STRICT past (lag state + 7-day trailing
    # count/spend via a RANGE frame ending 1 ms before the label), so
    # no feature leaks the label's own row or future. Windows must be
    # computed over ALL events then filtered to labels — filtering
    # first would silently drop non-purchase history (the classic
    # leakage-adjacent bug inverted). One user-keyed exchange carries
    # every frame; spend accumulates in DECIMAL cents.
    ev = load(spark, sf, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(-604800000, -1)
    )
    feat = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ms",
        F.lag("event_type").over(w).alias("prev_type"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("n_events_7d"),
        F.coalesce(
            F.sum(F.col("cents").cast("decimal(38,0)")).over(w7), F.lit(0)
        )
        .cast("bigint")
        .alias("spend_7d_cents"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        F.col("ms").alias("label_ms"),
        "prev_type",
        "n_events_7d",
        "spend_7d_cents",
    )


@query(
    "events_gap_fill",
    """
    WITH span AS (
      SELECT user_id,
             CAST(MIN(ts) AS DATE) AS d0,
             CAST(MAX(ts) AS DATE) AS d1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1,
                                  INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT g.user_id, g.day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
           (d.n IS NULL) AS is_gap,
           CAST(COALESCE(
             LAST_VALUE(d.cents IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
             AS BIGINT) AS cents_carried
    FROM grid g LEFT JOIN daily d
      ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def q_events_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    # Per-key time-series gap filling: each user's own [first, last]
    # day span becomes a dense calendar grid (sequence + explode — no
    # global spine, no cross join), zero-activity days materialize
    # with n_events = 0, and the last active day's spend carries
    # forward (the same last(ignorenulls) running frame as the
    # extraction pipeline's O12 fill). Shuffles: the daily pre-agg and
    # the grid join, both on the uniform user key; the grid's fan-out
    # is bounded by each user's own span.
    ev = load(spark, sf, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
            F.coalesce(F.last("cents", ignorenulls=True).over(w), F.lit(0))
            .cast("bigint")
            .alias("cents_carried"),
        )
    )


@query(
    "agg_quantile_sketch_merge",
    """
    WITH pri AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents,
             md5(CAST(event_id AS VARCHAR)) AS pri
      FROM events
    ),
    daily AS (
      SELECT day, cents, pri,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY pri) AS rk
      FROM pri
    ),
    merged AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY pri) AS rk
      FROM daily WHERE rk <= 256
    ),
    sample AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, rk) AS vrk,
             COUNT(*) OVER () AS n
      FROM merged WHERE rk <= 256
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_sample,
           CAST(MAX(CASE WHEN vrk = (n + 1) // 2 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(MAX(CASE WHEN vrk = (9 * n + 9) // 10 THEN cents END)
                AS BIGINT) AS p90_cents
    FROM sample
    """,
)
def q_agg_quantile_sketch_merge(spark: SparkSession, sf: str) -> DataFrame:
    # Mergeable quantile sketch with DETERMINISTIC contents — the
    # day-rollup workflow percentile_approx cannot express (its sketch
    # neither merges through SQL nor replays across engines): each
    # day keeps its bottom-256 rows by md5(event_id) priority (a
    # uniform random-but-deterministic sample; bottom-k is mergeable
    # because bottom-k of a union = bottom-k of the parts' bottom-ks),
    # the day sketches merge to a global bottom-256, and quantiles
    # read off the sorted sample by count rank. Both window rank
    # filters push down as WindowGroupLimit; only ~256 rows/day ever
    # cross the final exchange. Accuracy vs the exact percentile is
    # gated in tests/test_approx_quality.py.
    ev = load(spark, sf, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.md5(F.col("event_id").cast("string")).alias("pri"),
    )
    wd = Window.partitionBy("day").orderBy("pri")
    daily = ev.withColumn("rk", F.row_number().over(wd)).filter(F.col("rk") <= 256)
    wm = Window.orderBy("pri")
    merged = daily.withColumn("rk", F.row_number().over(wm)).filter(
        F.col("rk") <= 256
    )
    wv = Window.orderBy("cents", "rk")
    sample = merged.select(
        "cents",
        F.row_number().over(wv).alias("vrk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    return sample.agg(
        F.max("n").cast("bigint").alias("n_sample"),
        F.max(F.when(F.col("vrk") == F.expr("(n + 1) div 2"), F.col("cents")).otherwise(None))
        .cast("bigint")
        .alias("p50_cents"),
        F.max(
            F.when(F.col("vrk") == F.expr("(9 * n + 9) div 10"), F.col("cents")).otherwise(
                None
            )
        )
        .cast("bigint")
        .alias("p90_cents"),
    )


@query(
    "events_rolling_wau",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
    member AS (
      SELECT DISTINCT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE)
               AS report_day
      FROM ud
    ),
    wau AS (
      SELECT report_day, CAST(COUNT(*) AS BIGINT) AS wau
      FROM member, span
      WHERE report_day <= span.d1
      GROUP BY report_day
    ),
    dau AS (
      SELECT day AS report_day, CAST(COUNT(*) AS BIGINT) AS dau
      FROM ud GROUP BY day
    )
    SELECT w.report_day AS day, COALESCE(d.dau, 0) AS dau, w.wau
    FROM wau w LEFT JOIN dau d USING (report_day)
    """,
)
def q_events_rolling_wau(spark: SparkSession, sf: str) -> DataFrame:
    # Rolling DISTINCT users (DAU + trailing-7-day WAU) — the sliding
    # distinct-count no window frame expresses (COUNT(DISTINCT) OVER
    # RANGE is unsupported, and collect_set state would be unbounded).
    # The scalable shape: dedupe to (user, day) once, then each
    # membership row votes for the 7 report days it keeps the user
    # active in (bounded 7x fan-out via sequence+explode — never a
    # grid cross join), distinct again, count. Every shuffle is on
    # uniform (user/day) keys.
    ev = load(spark, sf, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    d1 = ud.agg(F.max("day").alias("d1"))
    member = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence("day", F.date_add("day", 6))
            ).alias("report_day"),
        )
        .distinct()
    )
    wau = (
        member.join(F.broadcast(d1), member.report_day <= F.col("d1"))
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )
    dau = ud.groupBy(F.col("day").alias("report_day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    return (
        wau.join(dau, "report_day", "left")
        .select(
            F.col("report_day").alias("day"),
            F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
            "wau",
        )
    )


@query(
    "events_ab_cuped",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 2 AS variant,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
             CAST(SUM(x) AS DECIMAL(19,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(19,0)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(19,0)) AS sxy,
             CAST(SUM(x * x) AS DECIMAL(19,0)) AS sxx
      FROM per_user
    ),
    per_var AS (
      SELECT variant,
             CAST(COUNT(*) AS DECIMAL(19,0)) AS nv,
             CAST(SUM(x) AS DECIMAL(19,0)) AS svx,
             CAST(SUM(y) AS DECIMAL(19,0)) AS svy
      FROM per_user GROUP BY variant
    )
    SELECT CAST(variant AS BIGINT) AS variant,
           CAST(nv AS BIGINT) AS n_users,
           ROUND(CAST(svy AS DOUBLE) / CAST(nv AS DOUBLE) / 100, 6)
             AS mean_post_dollars,
           ROUND((CAST(svy AS DOUBLE) / CAST(nv AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * (CAST(svx AS DOUBLE) / CAST(nv AS DOUBLE)
                       - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100, 6)
             AS cuped_mean_post_dollars
    FROM per_var CROSS JOIN pooled
    """,
)
def q_events_ab_cuped(spark: SparkSession, sf: str) -> DataFrame:
    # Experiment readout with CUPED variance reduction (Deng et al.
    # 2013): per-user pre-period spend is the covariate; the adjusted
    # post-period mean subtracts theta x (covariate deviation), with
    # theta = pooled cov(x,y)/var(x) from INTEGER moments — exact to
    # the final divisions, which are written as the same expression
    # tree on both engines (the trend_slope discipline). Variant
    # assignment is the md5 coin, so the split is reproducible. Two
    # aggregates over the per-user table + a broadcast single-row
    # cross join; the events table shuffles once on user_id.
    ev = load(spark, sf, "events")
    pre = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(pre, cents).otherwise(0)).alias("x"),
        F.sum(F.when(~pre, cents).otherwise(0)).alias("y"),
    ).withColumn(
        "variant",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2,
    ).persist()
    per_user.count()  # eager: feeds pooled and per-variant branches
    dec = "decimal(19,0)"
    pooled = per_user.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
    )
    per_var = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast(dec).alias("nv"),
        F.sum("x").cast(dec).alias("svx"),
        F.sum("y").cast(dec).alias("svy"),
    )
    return per_var.crossJoin(F.broadcast(pooled)).selectExpr(
        "CAST(variant AS BIGINT) AS variant",
        "CAST(nv AS BIGINT) AS n_users",
        "ROUND(CAST(svy AS DOUBLE) / CAST(nv AS DOUBLE) / 100, 6)"
        " AS mean_post_dollars",
        "ROUND((CAST(svy AS DOUBLE) / CAST(nv AS DOUBLE)"
        " - (CAST(n * sxy - sx * sy AS DOUBLE)"
        " / CAST(n * sxx - sx * sx AS DOUBLE))"
        " * (CAST(svx AS DOUBLE) / CAST(nv AS DOUBLE)"
        " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100, 6)"
        " AS cuped_mean_post_dollars",
    )


@query(
    "events_interval_merge",
    """
    WITH iv AS (
      SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      FROM events
    ),
    marked AS (
      SELECT user_id, ms,
             CASE WHEN MAX(ms + 600000) OVER (
                    PARTITION BY user_id ORDER BY ms, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR ms > MAX(ms + 600000) OVER (
                    PARTITION BY user_id ORDER BY ms, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_span,
             event_id
      FROM iv
    ),
    islands AS (
      SELECT user_id, ms,
             SUM(new_span) OVER (
               PARTITION BY user_id ORDER BY ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           CAST(MIN(ms) AS BIGINT) AS span_start_ms,
           CAST(MAX(ms + 600000) AS BIGINT) AS span_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def q_events_interval_merge(spark: SparkSession, sf: str) -> DataFrame:
    # Gaps-and-islands interval merging: each event opens a 10-minute
    # activity interval; overlapping/adjacent intervals coalesce into
    # maximal spans via the running-max-end island flag + running sum.
    # One user_id shuffle shared by both windows and the final
    # aggregate — the window partitioning IS the groupBy key, so
    # Catalyst plans a single exchange end-to-end.
    span = 600000
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv = ev.select("user_id", "event_id", F.unix_millis("ts").alias("ms"))
    prev_max_end = F.max(F.col("ms") + span).over(prev)
    marked = iv.select(
        "user_id",
        "ms",
        "event_id",
        F.when(prev_max_end.isNull() | (F.col("ms") > prev_max_end), 1)
        .otherwise(0)
        .alias("new_span"),
    )
    islands = marked.select(
        "user_id", "ms", F.sum("new_span").over(run).alias("island")
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("ms").alias("span_start_ms"),
        F.max(F.col("ms") + span).alias("span_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_sequence_motif",
    """
    WITH j AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST((length(s) - length(replace(s, 'vcp', ''))) // 3 AS BIGINT)
             AS n_vcp,
           s LIKE '%v%c%p%' AS has_funnel_path,
           n_events
    FROM j
    """,
)
def q_events_sequence_motif(spark: SparkSession, sf: str) -> DataFrame:
    # MATCH_RECOGNIZE-style sequence motifs without the clause (Spark
    # has none): each user's journey becomes a character string (event
    # types have distinct initials), contiguous view→click→purchase
    # motifs count via the exact replace-length trick (leftmost
    # non-overlapping, identical in both engines), and the gapped
    # funnel is one LIKE subsequence test. One user-keyed shuffle;
    # per-user state is the journey string (bounded by per-user
    # activity — cap upstream via user_event_sequences for
    # adversarial users).
    ev = load(spark, sf, "events")
    item = F.struct(
        F.unix_millis("ts").alias("ms"),
        F.col("event_id").alias("event_id"),
        F.substring("event_type", 1, 1).alias("ch"),
    )
    j = (
        ev.select("user_id", item.alias("e"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(e)), x -> x.ch)"), ""
            ).alias("s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return j.select(
        "user_id",
        F.expr(
            "(length(s) - length(replace(s, 'vcp', ''))) div 3"
        ).alias("n_vcp"),
        F.col("s").like("%v%c%p%").alias("has_funnel_path"),
        "n_events",
    )


@query(
    "events_churn_labels",
    """
    WITH act AS (
      SELECT user_id,
             epoch_ms(CAST(ts AS TIMESTAMP)) // 604800000 AS wk,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id, wk
    )
    SELECT user_id, CAST(wk AS BIGINT) AS wk, n_events,
           COALESCE(LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk)
                    <= wk + 2, FALSE) AS retained,
           NOT COALESCE(LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk)
                        <= wk + 2, FALSE) AS churn_label
    FROM act
    """,
)
def q_events_churn_labels(spark: SparkSession, sf: str) -> DataFrame:
    # Churn-label construction (the supervised counterpart of the
    # retention matrix): per active (user, week), churned = no
    # activity in the next two weeks, read straight off LEAD over the
    # per-user week sequence. The aggregate and the window share one
    # user-keyed exchange. Last observed week is right-censored and
    # labels churn=true — re-label on a longer horizon before training
    # near the data's edge.
    ev = load(spark, sf, "events")
    act = (
        ev.select(
            "user_id",
            F.expr("unix_millis(ts) div 604800000").alias("wk"),
        )
        .groupBy("user_id", "wk")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    retained = F.coalesce(F.lead("wk").over(w) <= F.col("wk") + 2, F.lit(False))
    return act.select(
        "user_id", "wk", "n_events", retained.alias("retained"), (~retained).alias("churn_label")
    )


@query(
    "diagnostics_key_skew",
    """
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM c
    )
    SELECT user_id, cnt,
           ROUND(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 4) AS share,
           n_keys,
           ROUND(CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
                 / CAST(total AS DOUBLE), 4) AS skew_factor
    FROM (
      SELECT user_id, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rn
      FROM c) r, tot
    WHERE rn <= 10
    """,
)
def q_diagnostics_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    # The measurement that justifies reaching for operators/skew.py:
    # hottest shuffle keys with their load share, plus the global skew
    # factor (max key count ÷ mean key count — 1.0 is perfectly
    # uniform; a reducer's straggler ratio under hash partitioning).
    # One uniform-key aggregate, a 10-row TakeOrderedAndProject, and a
    # broadcast single-row total.
    from pyspark.sql import Window

    ev = load(spark, sf, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    top = (
        c.orderBy(F.desc("cnt"), "user_id")
        .limit(10)
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("cnt"), "user_id"))
        )
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("total").cast("double"), 4
            ).alias("share"),
            "n_keys",
            F.round(
                F.col("max_cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total").cast("double"),
                4,
            ).alias("skew_factor"),
        )
    )


@query(
    "events_funnel_trend",
    """
    WITH f AS (
      SELECT user_id,
             epoch_ms(CAST(ts AS TIMESTAMP)) // 604800000 AS wk,
             MIN(CASE WHEN event_type = 'signup'
                      THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS t_signup,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_ms(CAST(ts AS TIMESTAMP)) END) AS t_purchase
      FROM events GROUP BY user_id, wk
    )
    SELECT CAST(wk AS BIGINT) AS wk,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_purchase > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(CASE WHEN t_signup IS NOT NULL
                              AND t_purchase > t_signup
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(GREATEST(SUM(CASE WHEN t_signup IS NOT NULL
                                          THEN 1 ELSE 0 END), 1) AS DOUBLE),
                 4) AS conversion_rate
    FROM f GROUP BY wk
    """,
)
def q_events_funnel_trend(spark: SparkSession, sf: str) -> DataFrame:
    # The funnel as a TIME SERIES: per week, users who signed up and
    # then purchased (ordered conditional MINs — the same trick as the
    # one-shot funnel) with the weekly conversion rate. Two rollups
    # that both cluster on (user, wk) then wk — partial aggregation
    # shrinks each before its exchange.
    ev = load(spark, sf, "events")
    ms = F.unix_millis("ts")
    f = (
        ev.select(
            "user_id",
            F.expr("unix_millis(ts) div 604800000").alias("wk"),
            "event_type",
            ms.alias("ms"),
        )
        .groupBy("user_id", "wk")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ms"))).alias(
                "t_signup"
            ),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ms"))).alias(
                "t_purchase"
            ),
        )
    )
    converted = F.col("t_signup").isNotNull() & (
        F.col("t_purchase") > F.col("t_signup")
    )
    signed = F.col("t_signup").isNotNull()
    return f.groupBy("wk").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(signed.cast("long")).alias("n_signup"),
        F.sum(converted.cast("long")).alias("n_converted"),
        F.round(
            F.sum(converted.cast("long")).cast("double")
            / F.greatest(F.sum(signed.cast("long")), F.lit(1)).cast("double"),
            4,
        ).alias("conversion_rate"),
    )


@query(
    "events_cohort_triangle",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_ms(CAST(ts AS TIMESTAMP)) // 604800000 AS wk
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id
    ), sizes AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM cohort GROUP BY cohort_wk
    )
    SELECT CAST(c.cohort_wk AS BIGINT) AS cohort_wk,
           CAST(a.wk - c.cohort_wk AS BIGINT) AS offset_wk,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           s.cohort_size,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 4)
             AS retention
    FROM act a
    JOIN cohort c USING (user_id)
    JOIN sizes s ON s.cohort_wk = c.cohort_wk
    GROUP BY c.cohort_wk, a.wk - c.cohort_wk, s.cohort_size
    """,
)
def q_events_cohort_triangle(spark: SparkSession, sf: str) -> DataFrame:
    # The full cohort-retention TRIANGLE (events_retention is the
    # adjacent-week slice): cohort = first active week, every later
    # week becomes an offset cell with its retention rate. The
    # DISTINCT activity matrix shrinks events to |users|×|weeks|
    # first; cohorts and the join-back all cluster on user_id, the
    # final rollup on the dimension-sized (cohort, offset) grid, and
    # cohort sizes broadcast.
    ev = load(spark, sf, "events")
    act = (
        ev.select(
            "user_id", F.expr("unix_millis(ts) div 604800000").alias("wk")
        )
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        act.join(cohort, "user_id")
        .join(F.broadcast(sizes), "cohort_wk")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("offset_wk"),
            "cohort_size",
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            "cohort_wk",
            "offset_wk",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"),
                4,
            ).alias("retention"),
        )
    )


@query(
    "events_rfm_scores",
    """
    WITH m AS (
      SELECT user_id,
             CAST(MAX(epoch_ms(CAST(ts AS TIMESTAMP))) AS BIGINT) AS recency_ms,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events GROUP BY user_id
    ), b AS (
      SELECT quantile_cont(recency_ms, 0.25) AS r0,
             quantile_cont(recency_ms, 0.50) AS r1,
             quantile_cont(recency_ms, 0.75) AS r2,
             quantile_cont(frequency, 0.25) AS f0,
             quantile_cont(frequency, 0.50) AS f1,
             quantile_cont(frequency, 0.75) AS f2,
             quantile_cont(monetary_cents, 0.25) AS m0,
             quantile_cont(monetary_cents, 0.50) AS m1,
             quantile_cont(monetary_cents, 0.75) AS m2
      FROM m
    )
    SELECT user_id, recency_ms, frequency, monetary_cents,
           1 + CAST(recency_ms > r0 AS INT) + CAST(recency_ms > r1 AS INT)
             + CAST(recency_ms > r2 AS INT) AS r_score,
           1 + CAST(frequency > f0 AS INT) + CAST(frequency > f1 AS INT)
             + CAST(frequency > f2 AS INT) AS f_score,
           1 + CAST(monetary_cents > m0 AS INT) + CAST(monetary_cents > m1 AS INT)
             + CAST(monetary_cents > m2 AS INT) AS m_score
    FROM m, b
    """,
)
def q_events_rfm_scores(spark: SparkSession, sf: str) -> DataFrame:
    # RFM customer scoring (recency / frequency / monetary quartiles):
    # per-user metrics in one uniform-key aggregate, then quartile
    # boundaries broadcast over the user table — the length_buckets
    # pattern (exact dyadic-fraction interpolation on bigint metrics,
    # never a global-sort NTILE). Monetary goes to cents for exact
    # sums; the user table is already dimension-sized when bucketing.
    ev = load(spark, sf, "events")
    m = ev.groupBy("user_id").agg(
        F.max(F.unix_millis("ts")).alias("recency_ms"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias(
            "monetary_cents"
        ),
    )
    b = m.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{i}")
            for c in ("recency_ms", "frequency", "monetary_cents")
            for i, q in enumerate((0.25, 0.50, 0.75))
        ]
    )
    j = m.crossJoin(F.broadcast(b))

    def score(c: str) -> F.Column:
        p = c[0]
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{p}0")).cast("int")
            + (F.col(c) > F.col(f"{p}1")).cast("int")
            + (F.col(c) > F.col(f"{p}2")).cast("int")
        ).alias(f"{p}_score")

    return j.select(
        "user_id",
        "recency_ms",
        "frequency",
        "monetary_cents",
        score("recency_ms"),
        score("frequency"),
        score("monetary_cents"),
    )


@query(
    "events_ab_srm_check",
    """
    WITH per_user AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 2 AS variant
      FROM events
    ), c AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_control,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treatment
      FROM per_user
    )
    SELECT n_control, n_treatment,
           ROUND((CAST(n_control AS DOUBLE) - CAST(n_treatment AS DOUBLE))
                 * (CAST(n_control AS DOUBLE) - CAST(n_treatment AS DOUBLE))
                 / CAST(n_control + n_treatment AS DOUBLE), 4) AS chi2,
           ((CAST(n_control AS DOUBLE) - CAST(n_treatment AS DOUBLE))
            * (CAST(n_control AS DOUBLE) - CAST(n_treatment AS DOUBLE))
            / CAST(n_control + n_treatment AS DOUBLE)) > 3.84 AS srm_flag
    FROM c
    """,
)
def q_events_ab_srm_check(spark: SparkSession, sf: str) -> DataFrame:
    # Sample-ratio-mismatch audit — the FIRST check before reading any
    # experiment (events_ab_cuped's split must actually be 50/50):
    # chi-square of the variant counts against the expected even
    # split; chi2 = (n0-n1)^2/(n0+n1) for two equal cells, flagged at
    # the 0.05 critical value. Exact integer counts, one fixed double
    # chain. A DISTINCT user projection + a 1-row aggregate.
    ev = load(spark, sf, "events")
    split = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    pu = ev.select("user_id", split.alias("variant")).distinct()
    c = pu.agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("n_control"),
        F.sum((F.col("variant") == 1).cast("long")).alias("n_treatment"),
    )
    d = (F.col("n_control").cast("double") - F.col("n_treatment").cast("double"))
    chi2 = d * d / (F.col("n_control") + F.col("n_treatment")).cast("double")
    return c.select(
        "n_control",
        "n_treatment",
        F.round(chi2, 4).alias("chi2"),
        (chi2 > 3.84).alias("srm_flag"),
    )


@query(
    "events_bot_detection",
    """
    WITH g AS (
      SELECT user_id,
             epoch_ms(CAST(ts AS TIMESTAMP))
               - LAG(epoch_ms(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
           CAST(quantile_cont(gap_ms, 0.5) AS DOUBLE) AS median_gap_ms,
           (COUNT(*) + 1 >= 20 AND quantile_cont(gap_ms, 0.5) < 3600000)
             AS bot_flag
    FROM g WHERE gap_ms IS NOT NULL
    GROUP BY user_id
    """,
)
def q_events_bot_detection(spark: SparkSession, sf: str) -> DataFrame:
    # Machine-traffic heuristic — the data-quality filter run before
    # any behavioral analytics: a user whose MEDIAN inter-event gap is
    # implausibly small at volume is a bot/scraper, and the median
    # (exact grouped percentile, dyadic 0.5) shrugs off the long idle
    # tails that break mean-gap rules. One user-keyed exchange shared
    # by the lag window and the aggregate.
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    g = ev.select(
        "user_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    a = g.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).alias("n_events"),
        F.expr("percentile(gap_ms, 0.5)").alias("median_gap_ms"),
    )
    return a.select(
        "user_id",
        "n_events",
        F.col("median_gap_ms").cast("double").alias("median_gap_ms"),
        (
            (F.col("n_events") >= 20) & (F.col("median_gap_ms") < 3600000)
        ).alias("bot_flag"),
    )


@query(
    "events_seasonality_profile",
    """
    WITH e AS (
      SELECT CAST((epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 + 3) % 7
                  AS INT) AS dow,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000 % 24 AS INT)
               AS hour_utc
      FROM events
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e)
    SELECT CAST(dow AS INT) AS dow, hour_utc,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           -- raw quotient: a final ROUND on a computed double
           -- diverges at decimal half-boundaries (r14 sf0.1 gate)
           CAST(COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE) AS share
    FROM e, tot GROUP BY dow, hour_utc, n
    """,
)
def q_events_seasonality_profile(spark: SparkSession, sf: str) -> DataFrame:
    # Day-of-week × hour activity heatmap with load share — the
    # seasonality baseline capacity planning and anomaly thresholds
    # are read against. Hour from epoch millis (UTC, engine-neutral —
    # never the session-timezone hour() which follows the host); one
    # dimension-bounded (7×24) aggregate + broadcast total.
    ev = load(spark, sf, "events")
    # dow from epoch arithmetic, 0 = Monday: the builtin dayofweek()
    # numbers Sunday as 1 in Spark but 0 in DuckDB — engine-specific.
    e = ev.select(
        F.expr("(unix_millis(ts) div 86400000 + 3) % 7").cast("int").alias("dow"),
        F.expr("unix_millis(ts) div 3600000 % 24").cast("int").alias("hour_utc"),
    )
    tot = e.agg(F.count(F.lit(1)).alias("n"))
    return (
        e.groupBy("dow", "hour_utc")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour_utc",
            "n_events",
            (
                F.col("n_events").cast("double")
                / F.col("n").cast("double")
            ).alias("share"),
        )
    )


@query(
    "events_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    span AS (SELECT MAX(day) AS d1 FROM ud),
    member AS (
      SELECT DISTINCT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 27 DAY,
                                         INTERVAL 1 DAY)) AS DATE)
               AS report_day
      FROM ud
    ),
    mau AS (
      SELECT report_day, CAST(COUNT(*) AS BIGINT) AS mau
      FROM member, span
      WHERE report_day <= span.d1
      GROUP BY report_day
    ),
    dau AS (
      SELECT day AS report_day, CAST(COUNT(*) AS BIGINT) AS dau
      FROM ud GROUP BY day
    )
    SELECT m.report_day AS day, COALESCE(d.dau, 0) AS dau, m.mau,
           ROUND(CAST(COALESCE(d.dau, 0) AS DOUBLE) / CAST(m.mau AS DOUBLE), 4)
             AS stickiness
    FROM mau m LEFT JOIN dau d USING (report_day)
    """,
)
def q_events_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    # DAU/MAU stickiness — the engagement-product metric: trailing
    # 28-day distinct users via the same membership-vote fan-out as
    # the rolling WAU (each (user, day) activity row votes into the 28
    # report days it keeps the user active in — bounded 28x fan-out of
    # the already-shrunk DISTINCT matrix, never a grid cross join).
    ev = load(spark, sf, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    d1 = ud.agg(F.max("day").alias("d1"))
    member = (
        ud.select(
            "user_id",
            F.explode(F.sequence("day", F.date_add("day", 27))).alias(
                "report_day"
            ),
        )
        .distinct()
    )
    mau = (
        member.join(F.broadcast(d1), member.report_day <= F.col("d1"))
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("mau"))
    )
    dau = ud.groupBy(F.col("day").alias("report_day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    return (
        mau.join(dau, "report_day", "left")
        .select(
            F.col("report_day").alias("day"),
            F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
            "mau",
            F.round(
                F.coalesce("dau", F.lit(0)).cast("double")
                / F.col("mau").cast("double"),
                4,
            ).alias("stickiness"),
        )
    )


@query(
    "events_debounce",
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      FROM events
    ), g AS (
      SELECT event_id, user_id, event_type,
             ms - LAG(ms) OVER (PARTITION BY user_id, event_type
                                ORDER BY ms, event_id) AS gap
      FROM ev
    )
    SELECT event_id, user_id, event_type,
           (gap IS NOT NULL AND gap <= 21600000) AS is_duplicate
    FROM g
    """,
)
def q_events_debounce(spark: SparkSession, sf: str) -> DataFrame:
    # Duplicate-event suppression (debounce): an event is a duplicate
    # when the SAME (user, type) key fired within the trailing 6 h —
    # the dedup gate in front of notification fan-out / billing
    # counters, where double-fired client events must not double-count.
    # Every occurrence refreshes the window ("quiet gap" semantics), so
    # the flag is a pure lag over ONE (user, type)-keyed exchange — no
    # self-join, no state. (ms, event_id) ordering makes the tiebreak
    # deterministic on both engines. 6 h flags 1036/10000 events at
    # sf0.01 — genuinely exercised, per the vacuous-check rule. The
    # streaming twin (streaming.dedup.debounce_stream) keeps ONE
    # last-seen timestamp per active key with event-time TTL eviction —
    # bounded state, asserted flag-for-flag equal to this query.
    ev = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts")).alias("ms"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ms", "event_id")
    return ev.withColumn("gap", F.col("ms") - F.lag("ms").over(w)).select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("gap").isNotNull() & (F.col("gap") <= F.lit(21_600_000))).alias(
            "is_duplicate"
        ),
    )


@query(
    "events_sessionize_incremental",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      FROM events
    ), marked AS (
      SELECT user_id, event_id, ms,
             CASE WHEN LAG(ms) OVER w IS NULL
                    OR ms - LAG(ms) OVER w > 21600000
                  THEN 1 ELSE 0 END AS ns
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    ), sess AS (
      SELECT user_id, ms,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(MIN(ms) AS BIGINT) AS start_ms,
           CAST(MAX(ms) AS BIGINT) AS end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_events_sessionize_incremental(spark: SparkSession, sf: str) -> DataFrame:
    # Late-binding session table: the standing table (each user's first
    # 80% of events, sessionized) absorbs the newly-landed 20% without
    # re-reading old events — only each dirty user's LAST session can
    # extend/merge under append-only arrival; everything else carries
    # forward verbatim. 6 h gap keeps BOTH boundary outcomes organically
    # live at sf0.01 (measured: 64 users' batches continue their last
    # session, 86 start a new one — the vacuous-check rule). The oracle
    # is deliberately the from-scratch sessionization over ALL events:
    # the incremental merge must land on it exactly.
    from hadoopxmlextractor_spark.operators.temporal import (
        sessionize_incremental,
        sessionize_table,
    )

    GAP = 21_600_000
    ev = load(spark, sf, "events").select(
        "user_id", "event_id", F.unix_millis(F.col("ts")).alias("ms")
    )
    # A partial-agg count + broadcast join-back is map-side combinable
    # and drops a second, unordered window pass over every user's
    # events; the per-user histogram is users-cardinality, always the
    # cheaper side.
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    # `old` and `new` read the same user-keyed exchange, which AQE
    # reuses at runtime; no cache and no eager count.
    ranked = ev.join(F.broadcast(counts), "user_id").withColumn(
        "rn", F.row_number().over(w)
    )
    old = ranked.filter(F.col("rn") <= F.expr("(8 * n) div 10")).drop("rn", "n")
    new = ranked.filter(F.col("rn") > F.expr("(8 * n) div 10")).drop("rn", "n")
    return sessionize_incremental(
        sessionize_table(old, gap_ms=GAP), new, gap_ms=GAP
    )


@query(
    "diagnostics_join_cardinality",
    """
    WITH ha AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS na
      FROM lineitem GROUP BY l_orderkey
    ), hb AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS nb
      FROM orders GROUP BY o_orderkey
    ), m AS (
      SELECT ha.k, na * nb AS out_rows FROM ha JOIN hb USING (k)
    )
    SELECT CAST(SUM(out_rows) AS BIGINT) AS predicted_rows,
           CAST(COUNT(*) AS BIGINT) AS matched_keys,
           CAST(MAX(out_rows) AS BIGINT) AS max_key_rows,
           ROUND(CAST(MAX(out_rows) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(out_rows) AS DOUBLE), 4) AS skew_factor
    FROM m
    """,
)
def q_diagnostics_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    # Join-cardinality PRE-FLIGHT: the exact output row count of
    # lineitem ⋈ orders — and its hottest key's contribution — computed
    # from the two key HISTOGRAMS without materializing a single joined
    # row. The histograms are distinct-key-sized (map-side partial
    # aggregation collapses each side before its exchange), so the
    # pre-flight costs two shrunken aggregates + a key-sized join where
    # the real join would cost the full fact-table shuffle — the
    # measurement to run BEFORE an unfamiliar join at 100 TB, and the
    # quantitative trigger for operators/skew.py salting (skew_factor =
    # max key output ÷ mean key output) or for refusing an accidental
    # fan-out join outright. Complements the dedup-side candidate
    # budgets: same fail-fast philosophy, relational surface.
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    ha = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("na")
    )
    hb = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    m = ha.join(hb, "k").select((F.col("na") * F.col("nb")).alias("out_rows"))
    return m.agg(
        F.sum("out_rows").cast("long").alias("predicted_rows"),
        F.count(F.lit(1)).cast("long").alias("matched_keys"),
        F.max("out_rows").cast("long").alias("max_key_rows"),
        F.round(
            F.max("out_rows").cast("double")
            * F.count(F.lit(1)).cast("double")
            / F.sum("out_rows").cast("double"),
            4,
        ).alias("skew_factor"),
    )


@query(
    "events_incremental_topk",
    """
    SELECT event_type, event_id, value
    FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn <= 5
    """,
)
def q_events_incremental_topk(spark: SparkSession, sf: str) -> DataFrame:
    # Insert-only top-k maintenance: the standing per-type top-5 (each
    # type's first 80% of events by time) absorbs the newly-landed 20%
    # without re-reading history — topk(all) = topk(standing topk ∪
    # batch) holds exactly for immutable inserts. The oracle is the
    # from-scratch top-5 over all events; (value DESC, event_id ASC)
    # makes ties deterministic on both engines.
    from hadoopxmlextractor_spark.snapshots import maintain_topk

    ev = load(spark, sf, "events").select(
        "event_type", "event_id", "value",
        F.unix_millis(F.col("ts")).alias("ms"),
    )
    w = Window.partitionBy("event_type").orderBy("ms", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    old = ranked.filter(F.col("rn") <= F.expr("(8 * n) div 10"))
    new = ranked.filter(F.col("rn") > F.expr("(8 * n) div 10"))
    wk = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    standing = (
        old.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
        .select("event_type", "event_id", "value")
    )
    return maintain_topk(
        standing, new.select("event_type", "event_id", "value"),
        "event_type", "event_id", "value", k=5,
    )


@query(
    "events_session_revenue",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_type
      FROM events
    ), marked AS (
      SELECT user_id, event_id, ms, cents, event_type,
             CASE WHEN LAG(ms) OVER w IS NULL
                    OR ms - LAG(ms) OVER w > 21600000
                  THEN 1 ELSE 0 END AS ns
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    ), sess AS (
      SELECT user_id, ms, cents, event_type,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents
                         ELSE 0 END) AS BIGINT) AS revenue_cents,
           CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_events_session_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # The session table AS DATA: per-session revenue attribution and
    # dwell time — the join/rollup a session WINDOW stream cannot serve
    # mid-session but the maintained session table can. One user-keyed
    # exchange shared by the lag, the running sum, and the final
    # per-session aggregate; revenue in exact cents.
    GAP = 21_600_000
    ev = load(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = ev.withColumn(
        "ns",
        F.when(
            F.lag("ms").over(w).isNull()
            | ((F.col("ms") - F.lag("ms").over(w)) > GAP),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn("session_id", F.sum("ns").over(wrun))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("revenue_cents"),
        (F.max("ms") - F.min("ms")).cast("long").alias("duration_ms"),
    )


@query(
    "events_funnel_windowed",
    """
    WITH v AS (
      SELECT user_id, MIN(epoch_ms(CAST(ts AS TIMESTAMP))) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(epoch_ms(CAST(e.ts AS TIMESTAMP))) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click'
        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) > t_view
        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) <= t_view + 86400000
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_ms(CAST(e.ts AS TIMESTAMP))) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase'
        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) > t_click
        AND epoch_ms(CAST(e.ts AS TIMESTAMP)) <= t_click + 259200000
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS viewed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS clicked_within_24h,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS purchased_within_72h
    """,
)
def q_events_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    # TIME-CONSTRAINED funnel — the product-analytics semantics the
    # plain ordered-MIN funnel cannot express: the qualifying click
    # must land within 24 h of the FIRST view, and the purchase within
    # 72 h of THAT click (not any later click). Each stage is a
    # conditional MIN over the previous stage's anchor joined back to
    # the events — three user-keyed aggregates sharing one exchange
    # key, anchor tables user-dimension-sized, so the fact table is
    # scanned once per stage and never self-joined. Windows chosen so
    # every stage genuinely constrains at sf0.01 (150 -> 60 -> 45).
    W1, W2 = 86_400_000, 259_200_000
    ev = load(spark, sf, "events").select(
        "user_id", "event_type", F.unix_millis(F.col("ts")).alias("ms")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ms") > F.col("t_view")) & (F.col("ms") <= F.col("t_view") + W1))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ms") > F.col("t_click")) & (F.col("ms") <= F.col("t_click") + W2)
        )
        .groupBy("user_id")
        .agg(F.min("ms").alias("t_purchase"))
    )
    counts = [
        v.agg(F.count(F.lit(1)).cast("long").alias("viewed")),
        c.agg(F.count(F.lit(1)).cast("long").alias("clicked_within_24h")),
        p.agg(F.count(F.lit(1)).cast("long").alias("purchased_within_72h")),
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


@query(
    "events_asof_state_enrichment",
    """
    WITH ordered AS (
      SELECT user_id, event_type AS state, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type <> 'purchase'
    ), ded AS (
      SELECT * FROM ordered WHERE prev IS NULL OR state <> prev
    ), dim AS (
      SELECT user_id, state,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS eff_from_ms,
             epoch_ms(CAST(LEAD(ts) OVER w AS TIMESTAMP)) AS eff_to_ms,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS version
      FROM ded
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), purchases AS (
      SELECT event_id, user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           COALESCE(d.state, 'none') AS state_at_purchase,
           CAST(COALESCE(d.version, 0) AS BIGINT) AS state_version,
           CAST(COALESCE(p.ms - d.eff_from_ms, -1) AS BIGINT)
             AS ms_into_state
    FROM purchases p
    LEFT JOIN dim d
      ON d.user_id = p.user_id
     AND d.eff_from_ms <= p.ms
     AND (d.eff_to_ms IS NULL OR p.ms < d.eff_to_ms)
    """,
)
def q_events_asof_state_enrichment(spark: SparkSession, sf: str) -> DataFrame:
    # Fact-vs-SCD2 AS-OF enrichment — the warehouse lookup the history
    # table exists for: each purchase picks up the activity state the
    # user was in at that instant (dimension built from NON-purchase
    # events, so the answer is informative rather than the event's own
    # type) plus how far into the state the purchase landed. Interval
    # containment rides the user equi-join (per-user dimension rows
    # bounded by state-CHANGE count, not event count); purchases before
    # any activity keep a deterministic 'none' row via the left join.
    from hadoopxmlextractor_spark.operators.temporal import scd2_history

    events = load(spark, sf, "events")
    dim = scd2_history(
        events.filter(F.col("event_type") != "purchase"),
        "user_id", "event_type", "ts", "event_id",
    ).select(
        F.col("user_id").alias("d_user"),
        "state",
        "eff_from_ms",
        "eff_to_ms",
        "version",
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_millis(F.col("ts")).alias("ms")
    )
    joined = purchases.join(
        dim,
        (purchases.user_id == dim.d_user)
        & (dim.eff_from_ms <= purchases.ms)
        & (dim.eff_to_ms.isNull() | (purchases.ms < dim.eff_to_ms)),
        "left",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.coalesce("state", F.lit("none")).alias("state_at_purchase"),
        F.coalesce("version", F.lit(0)).cast("long").alias("state_version"),
        F.coalesce(F.col("ms") - F.col("eff_from_ms"), F.lit(-1))
        .cast("long")
        .alias("ms_into_state"),
    )


@query(
    "diagnostics_referential_integrity",
    """
    WITH facts AS (
      SELECT l_orderkey
             + CASE WHEN l_orderkey % 97 = 0 THEN 10000000 ELSE 0 END
               AS fk
      FROM lineitem
    ), orphan AS (
      SELECT COUNT(*) AS n FROM facts f
      LEFT JOIN orders o ON f.fk = o.o_orderkey
      WHERE o.o_orderkey IS NULL
    ), childless AS (
      SELECT COUNT(*) AS n FROM orders o
      LEFT JOIN facts f ON f.fk = o.o_orderkey
      WHERE f.fk IS NULL
    )
    SELECT CAST((SELECT n FROM orphan) AS BIGINT) AS orphan_facts,
           CAST((SELECT n FROM childless) AS BIGINT) AS childless_dims,
           CAST((SELECT COUNT(*) FROM facts) AS BIGINT) AS n_facts,
           ROUND(CAST((SELECT n FROM orphan) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM facts) AS DOUBLE), 6)
             AS orphan_rate
    """,
)
def q_diagnostics_referential_integrity(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-table referential-integrity audit — the FK half the
    # single-table data contract (corpus_data_contract) cannot see:
    # orphan fact keys (joins would silently DROP these rows on an
    # inner join, deflating every downstream aggregate) and childless
    # dimension rows (dead weight or a landing gap). Both counts are
    # anti-join aggregates on the join key's own exchange. The
    # synthetic tables are referentially INTACT, so orphans are
    # PLANTED deterministically (l_orderkey%97 shifted out of range)
    # inside the query and its oracle — the vacuous-check rule.
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    facts = li.select(
        (
            F.col("l_orderkey")
            + F.when(F.col("l_orderkey") % 97 == 0, F.lit(10_000_000)).otherwise(
                F.lit(0)
            )
        ).alias("fk")
    )
    orphan = facts.join(
        orders, facts.fk == orders.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("orphan_facts"))
    childless = orders.join(
        facts, facts.fk == orders.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("childless_dims"))
    totals = facts.agg(F.count(F.lit(1)).cast("long").alias("n_facts"))
    return (
        orphan.crossJoin(childless)
        .crossJoin(totals)
        .select(
            "orphan_facts",
            "childless_dims",
            "n_facts",
            F.round(
                F.col("orphan_facts").cast("double")
                / F.col("n_facts").cast("double"),
                6,
            ).alias("orphan_rate"),
        )
    )
