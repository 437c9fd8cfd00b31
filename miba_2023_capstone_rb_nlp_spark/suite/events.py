"""Event-stream suite (batch semantics of SURVEY §2.10's engine
additions): tumbling / sliding / session windows + JSON extraction
(A5 value_counts shape). The same plans run under Structured
Streaming (see streaming/) — these entries pin the batch semantics
against the oracle.

Oracle note: events.ts is TIMESTAMP(NANOS) in parquet; both engines
truncate to microseconds (catalog.py ↔ CAST(ts AS TIMESTAMP)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.functions.numeric import (
    dec,
    dsum,
    fixed,
    sql_dsum,
)
from miba_2023_capstone_rb_nlp_spark.suite import register


def _events(spark, sf_dir):
    return catalog.table(spark, sf_dir, "events")


_TUMBLING_ORACLE = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
       count(*) AS n, {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("events_tumbling_hourly", oracle=_TUMBLING_ORACLE)
def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window — F.window so the identical plan runs under
    Structured Streaming with a watermark."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )


_SLIDING_ORACLE = f"""
WITH cand AS (
  SELECT value,
         unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - INTERVAL '30 minutes']) AS w_start
  FROM events
)
SELECT w_start, count(*) AS n, {sql_dsum('value')} AS sum_value
FROM cand GROUP BY w_start
"""


@register("events_sliding_hourly", oracle=_SLIDING_ORACLE)
def q_events_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m window: every event lands in exactly two
    windows; oracle enumerates both candidate starts."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
    )


_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         lag(CAST(ts AS TIMESTAMP)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts >= INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT *, sum(new_session) OVER
            (PARTITION BY user_id ORDER BY ts, new_session
             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*) AS n, {sql_dsum('value')} AS sum_value
FROM sessions GROUP BY user_id, session_no
"""


@register("events_session_windows", oracle=_SESSION_ORACLE)
def q_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(gap=30m) per user; [start, start+gap) end-
    exclusive merge semantics mirrored by the lag/cumsum oracle."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n",
            "sum_value",
        )
    )


_JSON_ORACLE = f"""
SELECT event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       {sql_dsum('value')} AS sum_value,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
"""


@register("events_json_value_counts", oracle=_JSON_ORACLE)
def q_events_json_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 value_counts + JSON path extraction + distinct-agg in one
    aggregate (distinct-count shuffles once on (event_type,user_id))."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        dsum("value").alias("sum_value"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# --- pivot: event_type → columns ------------------------------------
_TYPES = ("click", "view", "purchase", "signup", "error")
# sum_value mirrors the engine's pivot shape: per-type exact decimal
# sums surfaced as doubles, then added LEFT-TO-RIGHT in declared type
# order (the one IEEE addition chain both engines share) — NOT one
# global decimal sum, which could differ by final-rounding ULPs.
_PIVOT_SUM = " + ".join(
    "COALESCE(CAST(sum(CAST(value AS DECIMAL(18,2)))"
    f" FILTER (WHERE event_type = '{t}') AS DOUBLE), 0.0)"
    for t in _TYPES
)
_PIVOT_ORACLE = f"""
SELECT user_id,
       {', '.join(f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
                  for t in _TYPES)},
       {_PIVOT_SUM} AS sum_value
FROM events GROUP BY user_id
"""


@register("events_type_pivot", oracle=_PIVOT_ORACLE)
def q_events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event counts, one column per event
    type, plus the exact value total. The pivot values are DECLARED
    (not discovered), which matters at scale twice over: Spark skips
    the extra distinct-scan JOB it otherwise runs to enumerate pivot
    keys, and the output width is fixed at plan time instead of
    data-dependent. Plan: ONE scan, a (user_id, event_type) pre-agg
    exchange, then the pivotfirst agg on user_id — both phases
    map-side partial, so the shuffles carry one row per (user, type)
    and per user respectively, never per event."""
    ev = _events(spark, sf_dir)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_TYPES))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("v"),
        )
    )
    total = None
    for t in _TYPES:
        col = F.coalesce(F.col(f"{t}_v"), F.lit(0.0))
        total = col if total is None else total + col
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}")
            for t in _TYPES
        ],
        total.alias("sum_value"),
    )


# --- conversion funnel (view → click → purchase) --------------------
# Each stage must happen strictly after the previous one and within
# a 24 h conversion deadline of it. Classic event analytics; the SQL
# formulation is THREE join-aggregate rounds over the event table,
# the engine plan is ONE exchange: per-user sorted event array + a
# JVM-side fold (no Python, no self-joins). Timestamps are compared
# as exact microsecond BIGINTs in both engines, so the deadline
# arithmetic cannot diverge.
_FUNNEL_US = 24 * 3600 * 1_000_000  # 24 h in microseconds

_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
t1 AS (
  SELECT user_id, min(us) AS tv FROM e
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(us) AS tc FROM e JOIN t1 USING (user_id)
  WHERE event_type = 'click' AND us > tv AND us <= tv + {_FUNNEL_US}
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(us) AS tp FROM e JOIN t2 USING (user_id)
  WHERE event_type = 'purchase' AND us > tc AND us <= tc + {_FUNNEL_US}
  GROUP BY e.user_id
)
SELECT t1.user_id, tv AS tv_us, tc AS tc_us, tp AS tp_us,
       CASE WHEN tp IS NOT NULL THEN 3
            WHEN tc IS NOT NULL THEN 2 ELSE 1 END AS stage
FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
"""


@register("events_funnel_stages", oracle=_FUNNEL_ORACLE)
def q_events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel: first view, first click within 24 h after it,
    first purchase within 24 h after that. ONE hash exchange
    (groupBy user collects the time-sorted event array), then a
    whole-stage-codegen'd F.aggregate fold walks each user's events
    once — the three self-joins of the SQL formulation collapse into
    a linear scan. At 100 TB the per-user array is bounded by the
    analysis window (scope the scan's time predicate), and ties at
    identical microseconds resolve identically to the SQL min-filter
    semantics (strict > excludes same-instant conversions)."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("us"),
            F.col("event_type").alias("et"),
        )
    )
    seq = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("us", "et"))).alias("_seq")
    )
    nolong = F.lit(None).cast("bigint")
    init = F.struct(
        nolong.alias("tv"), nolong.alias("tc"), nolong.alias("tp")
    )

    def step(acc, x):
        tv = F.when(
            acc["tv"].isNull() & (x["et"] == "view"), x["us"]
        ).otherwise(acc["tv"])
        tc = F.when(
            acc["tc"].isNull()
            & (x["et"] == "click")
            & acc["tv"].isNotNull()
            & (x["us"] > acc["tv"])
            & (x["us"] <= acc["tv"] + _FUNNEL_US),
            x["us"],
        ).otherwise(acc["tc"])
        tp = F.when(
            acc["tp"].isNull()
            & (x["et"] == "purchase")
            & acc["tc"].isNotNull()
            & (x["us"] > acc["tc"])
            & (x["us"] <= acc["tc"] + _FUNNEL_US),
            x["us"],
        ).otherwise(acc["tp"])
        return F.struct(tv.alias("tv"), tc.alias("tc"), tp.alias("tp"))

    folded = seq.select(
        "user_id", F.aggregate("_seq", init, step).alias("f")
    ).filter(F.col("f.tv").isNotNull())
    return folded.select(
        "user_id",
        F.col("f.tv").alias("tv_us"),
        F.col("f.tc").alias("tc_us"),
        F.col("f.tp").alias("tp_us"),
        F.when(F.col("f.tp").isNotNull(), 3)
        .when(F.col("f.tc").isNotNull(), 2)
        .otherwise(1)
        .alias("stage"),
    )


# --- exponentially time-decayed user value --------------------------
# The feature-store staple: a per-user engagement score where each
# event's value decays with a 7-day half-life measured from the
# corpus "now" (global max event date). Determinism across engines:
# the only transcendental (exp) runs once per DISTINCT day-lag (rows
# bounded by the time span in days at ANY event volume), quantized at
# 1e-9; each event's contribution value·w is a product of
# bit-identical doubles (IEEE multiply is deterministic), quantized
# at 1e-6 and summed as exact DECIMAL.
_DECAY_ORACLE = """
WITH mx AS (
  SELECT max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS now FROM events
),
ev AS (
  SELECT user_id, value,
         date_diff('day', CAST(CAST(ts AS TIMESTAMP) AS DATE), now) AS d
  FROM events, mx
),
wt AS (
  SELECT d, floor(exp(-ln(2.0) / 7.0 * d) * 1000000000.0)
              / 1000000000.0 AS w
  FROM (SELECT DISTINCT d FROM ev)
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(floor(value * w * 1000000.0) / 1000000.0
                     AS DECIMAL(18,6))) AS DOUBLE) AS decayed_value
FROM ev JOIN wt USING (d)
GROUP BY user_id
"""


@register("user_decayed_value", oracle=_DECAY_ORACLE)
def q_user_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed value (7-day half-life).

    Plan: a 1-row max-date agg broadcast, a distinct-day weight table
    (map-side partial agg collapses the exchange to ≤ span-in-days
    rows) built so exp() never runs per event row, broadcast back,
    then ONE groupBy-user exchange with map-side combine — the event
    stream shuffles exactly once no matter the volume. The same
    weight-join shape runs incrementally under Structured Streaming
    with the day-lag computed against a watermark clock.

    Engine addition (no reference counterpart): SURVEY §2.12
    temporal feature engineering.
    """
    from miba_2023_capstone_rb_nlp_spark.functions.numeric import dsum, fixed

    ev = _events(spark, sf_dir)
    mx = ev.agg(F.max(F.to_date("ts")).alias("now"))
    evd = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "value",
        F.datediff("now", F.to_date("ts")).alias("d"),
    )
    wt = (
        evd.select("d")
        .distinct()
        .select(
            "d",
            fixed(F.exp(F.lit(-0.09902102579427789) * F.col("d")), 9).alias("w"),
        )
    )
    return (
        evd.join(F.broadcast(wt), "d")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(fixed(F.col("value") * F.col("w"), 6), 6).alias("decayed_value"),
        )
    )


# --- robust outlier detection per event type (median + MAD) ---------
# Monitoring/data-validation staple: flag events whose value sits
# more than 3 scaled-MADs from the per-type median. Median is exact
# interpolated percentile in BOTH engines (Spark F.percentile ==
# DuckDB quantile_cont on identical doubles — same lower+(higher-
# lower)·frac arithmetic); both medians are floor-quantized at 1e-6
# before any downstream compare so a ulp divergence in the
# interpolation cannot flip a threshold decision (numeric.py recipe).
_MAD_ORACLE = """
WITH med AS (
  SELECT event_type,
         floor(quantile_cont(value, 0.5) * 1000000.0) / 1000000.0
           AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, med.med,
         abs(e.value - med.med) AS ad
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type,
         floor(quantile_cont(ad, 0.5) * 1000000.0) / 1000000.0 AS mad
  FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN dev.ad > CAST(4.4478 AS DOUBLE) * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       any_value(dev.med) AS med,
       any_value(mad.mad) AS mad
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
"""


@register("event_outliers_mad", oracle=_MAD_ORACLE)
def q_event_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outlier counts via median/MAD (3·1.4826·MAD
    fence — the consistent-estimator z-score analog).

    Plan: exact medians need two passes by definition (the second
    operates on deviations from the first) — each is ONE groupBy-type
    exchange with the |types|-row result broadcast back, so the event
    stream is scanned twice but shuffled only into per-type
    percentile state, never globally sorted. At 100 TB the exact
    percentile swaps for percentile_approx in the same plan shape
    (sketch merge, one pass each) — kept exact here for the oracle.
    """
    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        fixed(F.percentile("value", 0.5), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        fixed(F.percentile("ad", 0.5), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("ad") > F.lit(4.4478) * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
        )
    )


# --- rolling 7-day active users (DAU/WAU analytics) -----------------
# Sliding distinct-count: for each calendar day, how many distinct
# users were active in the trailing 7 days. Expressed as the sliding-
# window twin of events_sliding_hourly but with DISTINCT aggregation:
# each event contributes to exactly 7 day-buckets (explode factor is
# the window/slide ratio, a constant), then ONE partial-distinct
# aggregate per (day, user) feeds the per-day count — Spark plans
# countDistinct as a two-phase agg (dedup exchange then count), both
# map-side combined.
_WAU_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
),
contrib AS (
  SELECT DISTINCT user_id, d + CAST(o AS INT) AS day
  FROM ev, LATERAL (SELECT unnest(range(0, 7)) AS o) r
),
span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev)
SELECT CAST(day AS TIMESTAMP) AS day, count(*) AS wau
FROM contrib, span
WHERE day BETWEEN lo AND hi
GROUP BY 1
"""


@register("weekly_active_users", oracle=_WAU_ORACLE)
def q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day.

    Plan: a constant-factor-7 date fan-out (sequence + explode,
    map-only), distinct on (user, day) — the ONE real exchange, with
    partial dedup map-side — then a per-day count that rides the same
    partitioning. Days outside the observed span are clipped via a
    2-value broadcast so leading windows match the oracle exactly.
    """
    ev = _events(spark, sf_dir).select(
        F.col("user_id"), F.to_date("ts").alias("d")
    )
    span = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    contrib = (
        ev.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
            ).alias("day"),
        )
        .crossJoin(F.broadcast(span))
        .filter(F.col("day").between(F.col("lo"), F.col("hi")))
        .select("user_id", "day")
        .distinct()
    )
    return (
        contrib.groupBy(F.col("day").cast("timestamp").alias("day"))
        .agg(F.count(F.lit(1)).alias("wau"))
    )


# --- weekly retention cohort matrix ---------------------------------
# Growth-analytics staple: users grouped by first-activity week
# (cohort), tracked by how many are active in each subsequent week.
# Weeks are day-number buckets from the corpus start (epoch-stable,
# TZ-free integer arithmetic — identical in both engines).
_RETENTION_ORACLE = """
WITH start AS (
  SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0 FROM events
),
ev AS (
  SELECT user_id,
         date_diff('day', d0, CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7
           AS week
  FROM events, start
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
),
active AS (SELECT DISTINCT user_id, week FROM ev)
SELECT cohort.cohort_week, active.week,
       count(*) AS n_users
FROM active JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


@register("retention_cohorts", oracle=_RETENTION_ORACLE)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention: distinct users per (cohort week, active week).

    Plan: ONE exchange on user_id computes the cohort (min week) AND
    the distinct active-week set in the SAME aggregate (the set is
    bounded by the corpus span in weeks, not by event volume — the
    per-user partial agg dedups weeks map-side), so there is no
    cohort join at all; the exploded (cohort, week) pairs feed the
    only other shuffle. The corpus-start scalar is a 1-row broadcast.
    """
    ev = _events(spark, sf_dir)
    start = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    weeks = ev.crossJoin(F.broadcast(start)).select(
        "user_id",
        F.floor(F.datediff(F.to_date("ts"), F.col("d0")) / 7).alias("week"),
    )
    per_user = weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"),
        F.collect_set("week").alias("wks"),
    )
    return (
        per_user.select("cohort_week", F.explode("wks").alias("week"))
        .groupBy("cohort_week", "week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- next-event Markov transition matrix ----------------------------
# Product-analytics staple: P(next event type | current event type),
# estimated from per-user event sequences. Ties in ts are broken by
# event_id so both engines walk identical sequences; the probability
# is one double division quantized at 1e-6.
_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS nxt
  FROM events
),
pair AS (
  SELECT cur, nxt, count(*) AS n_pair FROM seq
  WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
margin AS (
  SELECT cur, sum(n_pair) AS n_cur FROM pair GROUP BY cur
)
SELECT pair.cur, pair.nxt, pair.n_pair,
       floor(CAST(pair.n_pair AS DOUBLE) / margin.n_cur * 1000000.0)
         / 1000000.0 AS p
FROM pair JOIN margin USING (cur)
"""


@register("event_transition_matrix", oracle=_TRANSITION_ORACLE)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type next-event transition probabilities (first-order
    Markov estimate over per-user sequences).

    Plan: ONE exchange on user_id for the lead window (the only pass
    over raw events), then a (cur, nxt) count — |types|²-bounded —
    whose margin joins back via broadcast. Deterministic sequence
    order via the (ts, event_id) tie-break.
    """
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pair = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n_pair"))
    margin = pair.groupBy("cur").agg(F.sum("n_pair").alias("n_cur"))
    return pair.join(F.broadcast(margin), "cur").select(
        "cur",
        "nxt",
        "n_pair",
        fixed(F.col("n_pair").cast("double") / F.col("n_cur"), 6).alias("p"),
    )


# --- hourly gap-fill with forward fill ------------------------------
# Time-series hygiene: a complete hourly grid per event type over the
# observed span, empty hours carried forward from the last non-empty
# hour (n = 0 marks the fill rows). The calendar is GENERATED
# (sequence over the 1-row global bounds), never materialized as a
# table — the standard dense-grid trick.
_GAPFILL_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         count(*) AS n, {sql_dsum('value')} AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT min(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS lo,
         max(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hi
  FROM events
),
grid AS (
  SELECT t.event_type, gs.h
  FROM (SELECT DISTINCT event_type FROM events) t,
       bounds,
       LATERAL (SELECT unnest(generate_series(lo, hi,
                               INTERVAL '1 hour')) AS h) gs
)
SELECT grid.event_type, grid.h,
       coalesce(hourly.n, 0) AS n,
       last_value(hourly.sum_value IGNORE NULLS) OVER (
         PARTITION BY grid.event_type ORDER BY grid.h
         ROWS UNBOUNDED PRECEDING) AS sum_value_ff
FROM grid LEFT JOIN hourly
  ON hourly.event_type = grid.event_type AND hourly.h = grid.h
"""


@register("events_hourly_gapfill", oracle=_GAPFILL_ORACLE)
def q_events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per event type with forward-filled sums.

    Plan: ONE (type, hour) aggregate over events (map-side partial —
    the only pass over raw data); the grid is a |types| × sequence()
    explode off a 1-row bounds broadcast (generated, not scanned);
    the grid⋈hourly join and the forward-fill window share the same
    (event_type) partitioning. At any scale the grid is
    span-in-hours × |types| rows — independent of event volume.
    """
    ev = _events(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(
        "event_type", hour.alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    bounds = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(hourly, ["event_type", "h"], "left")
    return joined.select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_ff"),
    )


# --- CUSUM changepoint scan over the daily series -------------------
# Time-series drift detection: per event type, the cumulative sum of
# daily-count deviations from the series mean; the day where |CUSUM|
# peaks is the changepoint candidate, reported with its score. All
# cumulative state is integer (counts) until one final quantized
# division, so the running sums are exactly engine-identical; the
# argmax is a struct-max aggregate (no second window pass).
_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, count(*) AS n_days, sum(n) AS total
  FROM daily GROUP BY event_type
),
c AS (
  SELECT daily.event_type, daily.d,
         sum(daily.n * m.n_days - m.total) OVER (
           PARTITION BY daily.event_type ORDER BY daily.d
           ROWS UNBOUNDED PRECEDING) AS cusum_scaled,
         m.n_days, m.total
  FROM daily JOIN m USING (event_type)
)
SELECT event_type,
       CAST(max({'a': abs(cusum_scaled), 'd': d}).d AS TIMESTAMP)
         AS change_day,
       floor(CAST(max({'a': abs(cusum_scaled), 'd': d}).a AS DOUBLE)
             / n_days * 1000000.0) / 1000000.0 AS peak_cusum,
       CAST(n_days AS BIGINT) AS n_days
FROM c GROUP BY event_type, n_days
"""


@register("events_cusum_changepoint", oracle=_CUSUM_ORACLE)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM changepoint: the day of peak cumulative
    deviation from the series mean daily count.

    Integer trick for exactness: instead of cumsum(n − total/n_days)
    (a float running sum), both engines accumulate the SCALED
    integer n·n_days − total and divide once at the end — the
    cumulative state never leaves exact integer arithmetic. Plan:
    one (type, day) agg, a |types|-row mean broadcast, one ordered
    window per type (|days| rows each), struct-max argmax.
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("n").alias("total")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = daily.join(F.broadcast(m), "event_type").withColumn(
        "cusum_scaled",
        F.sum(F.col("n") * F.col("n_days") - F.col("total")).over(w),
    )
    best = F.max(
        F.struct(F.abs("cusum_scaled").alias("a"), F.col("d").alias("d"))
    )
    return (
        c.groupBy("event_type", "n_days")
        .agg(best.alias("b"))
        .select(
            "event_type",
            F.col("b.d").cast("timestamp").alias("change_day"),
            fixed(F.col("b.a").cast("double") / F.col("n_days"), 6).alias(
                "peak_cusum"
            ),
            F.col("n_days").cast("bigint").alias("n_days"),
        )
    )


# --- Welch two-sample t statistics (A/B-metric shape) ---------------
# Experiment analytics: for each event type, the Welch t statistic of
# its value distribution against all OTHER events pooled — the
# metric-vs-control computation every A/B platform runs. Sums are
# exact decimals; the per-type t derives from |types| rows with
# sqrt applied once per type and floor-quantized.
_TTEST_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
),
tot AS (SELECT sum(n) AS tn, sum(s1) AS ts1, sum(s2) AS ts2 FROM g),
d AS (
  SELECT g.event_type, g.n,
         g.s1 / g.n AS m1,
         (tot.ts1 - g.s1) / (tot.tn - g.n) AS m2,
         (g.s2 / g.n - (g.s1 / g.n) * (g.s1 / g.n))
           * (g.n / (g.n - 1.0)) AS v1,
         ((tot.ts2 - g.s2) / (tot.tn - g.n)
           - ((tot.ts1 - g.s1) / (tot.tn - g.n))
             * ((tot.ts1 - g.s1) / (tot.tn - g.n)))
           * ((tot.tn - g.n) / (tot.tn - g.n - 1.0)) AS v2,
         tot.tn - g.n AS n2
  FROM g, tot
)
SELECT event_type, n, CAST(n2 AS BIGINT) AS n2,
       floor(m1 * 1000000.0) / 1000000.0 AS mean_type,
       floor(m2 * 1000000.0) / 1000000.0 AS mean_rest,
       floor((m1 - m2) / sqrt(v1 / n + v2 / n2) * 1000000.0)
         / 1000000.0 AS t_stat
FROM d
"""


@register("events_value_ttest", oracle=_TTEST_ORACLE)
def q_events_value_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t statistic per event type vs the pooled rest.

    Plan: ONE aggregate pass over events collects (n, Σx, Σx²) per
    type as exact decimals; the complement's moments derive by
    subtraction from the 1-row totals broadcast — the data is never
    scanned per comparison. sqrt runs once per TYPE (bounded rows),
    every division in the same textual order as the oracle.
    """
    ev = _events(spark, sf_dir).select("event_type", "value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum(
            F.col("value").cast("decimal(18,2)")
            * F.col("value").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("s2"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"), F.sum("s1").alias("ts1"), F.sum("s2").alias("ts2")
    )
    d = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        ((F.col("ts1") - F.col("s1")) / (F.col("tn") - F.col("n"))).alias("m2"),
        (
            (F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")))
            * (F.col("n") / (F.col("n") - 1.0))
        ).alias("v1"),
        (
            (
                (F.col("ts2") - F.col("s2")) / (F.col("tn") - F.col("n"))
                - ((F.col("ts1") - F.col("s1")) / (F.col("tn") - F.col("n")))
                * ((F.col("ts1") - F.col("s1")) / (F.col("tn") - F.col("n")))
            )
            * ((F.col("tn") - F.col("n")) / (F.col("tn") - F.col("n") - 1.0))
        ).alias("v2"),
        (F.col("tn") - F.col("n")).alias("n2"),
    )
    return d.select(
        "event_type",
        "n",
        F.col("n2").cast("bigint").alias("n2"),
        fixed(F.col("m1"), 6).alias("mean_type"),
        fixed(F.col("m2"), 6).alias("mean_rest"),
        fixed(
            (F.col("m1") - F.col("m2"))
            / F.sqrt(F.col("v1") / F.col("n") + F.col("v2") / F.col("n2")),
            6,
        ).alias("t_stat"),
    )


# --- multi-format source round-trip (JSON lines) --------------------
# Format breadth beyond the parquet catalog: the engine must ingest
# the schema-on-read formats a real lake carries. The entry writes
# events as JSON lines once (the at-rest copy), reads it back with an
# EXPLICIT schema (never inference — an inference pass is a full
# extra scan at 100 TB and can widen types between batches), and the
# aggregate must equal the same aggregate over the parquet original —
# proving the text round-trip loses nothing (doubles survive via
# round-trip-safe formatting). Registered round 6 with local parity;
# window debut planned round 7.
#
# ONE shared fingerprint (r8 review #4): the four at-rest formats
# (JSON/CSV/ORC/XML) intentionally run the SAME aggregate against
# the SAME oracle text, built here once so a fingerprint fix cannot
# silently apply to one copy and leave the others stale. The
# `extrema` variant adds raw per-group min/max doubles — a bit-exact
# witness pair per group (sum_value alone quantizes to DECIMAL(18,2),
# which would hide sub-cent formatting drift). The crafted-corpus
# lossless test (tests/test_roundtrip_formats.py) covers what no
# aggregate over this synthetic data can: NULL keys, quote/entity
# escaping, and full-precision doubles compared value-by-value.


def _rt_oracle(extrema: bool = False) -> str:
    extra = (
        ",\n       min(value) AS min_value,\n       max(value) AS max_value"
        if extrema
        else ""
    )
    return f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_dsum('value')} AS sum_value{extra}
FROM events
GROUP BY event_type
"""


def _rt_aggregate(back: DataFrame, extrema: bool = False) -> DataFrame:
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value").alias("sum_value"),
    ]
    if extrema:
        aggs += [
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        ]
    return back.groupBy("event_type").agg(*aggs)


_RT_SCHEMA = "event_type string, user_id bigint, value double"


def _roundtrip(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    write_opts: dict | None = None,
    read_opts: dict | None = None,
    extrema: bool = False,
) -> DataFrame:
    """events → ``fmt`` at rest → explicit-schema read → the shared
    fingerprint aggregate; the oracle aggregates the ORIGINAL parquet.

    Plan: pruned to the three needed columns BEFORE serialization
    (unread columns in a text format are pure waste), and the read
    pins an explicit schema so the scan is ONE pass — inference on a
    text format costs a full extra pass over the data. The layout is
    keyed by ``sf_name``, so two scale-factor directories that share
    a basename never share a copy."""
    ev = catalog.table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    path = catalog.warehouse_dir(f"{fmt}_events", catalog.sf_name(sf_dir))
    ev.write.mode("overwrite").options(**(write_opts or {})).format(fmt).save(
        path
    )
    back = (
        spark.read.schema(_RT_SCHEMA)
        .options(**(read_opts or {}))
        .format(fmt)
        .load(path)
    )
    return _rt_aggregate(back, extrema)


@register("events_json_roundtrip", oracle=_rt_oracle())
def q_events_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines → schema-on-read aggregate. At scale the
    JSON copy is the upstream reality (logs, API dumps), not something
    the engine writes itself."""
    return _roundtrip(spark, sf_dir, "json")


# CSV: quoting, nulls-as-empty and full-precision float repr must
# preserve the data exactly, per column type.
_CSV_OPTS = {"header": True, "quote": '"', "escape": '"'}


@register("events_csv_roundtrip", oracle=_rt_oracle())
def q_events_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV (header, explicit quote/escape) → aggregate: the
    text round-trip is lossless for every column type crossing it
    (strings with the quote character, nullable bigints,
    full-precision doubles). At scale CSV is the upstream reality
    (exports, legacy feeds); the engine crosses it once and lands
    columnar."""
    return _roundtrip(spark, sf_dir, "csv", _CSV_OPTS, _CSV_OPTS)


@register("events_orc_roundtrip", oracle=_rt_oracle(extrema=True))
def q_events_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → aggregate with raw per-group min/max doubles —
    bit-exact witnesses the quantized sum alone could not provide.
    ORC carries its own schema, but the read still PINS one: a
    pipeline that trusts file-embedded schemas silently widens or
    narrows when an upstream writer drifts. The ORC scan is columnar
    and vectorized like parquet, so the format hop costs only the
    rewrite."""
    return _roundtrip(spark, sf_dir, "orc", extrema=True)


@register("events_xml_roundtrip", oracle=_rt_oracle(extrema=True))
def q_events_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → XML (rowTag per event) → aggregate with extrema. XML
    is the worst-case text format (tags per value, entity escaping,
    absent-element nulls). The events table has no NULL user_ids and
    no escapable characters, so NULL keys as absent elements, entity
    escaping and value-by-value double identity are pinned by the
    crafted-corpus test in tests/test_roundtrip_formats.py."""
    return _roundtrip(
        spark,
        sf_dir,
        "xml",
        {"rootTag": "events", "rowTag": "event"},
        {"rowTag": "event"},
        extrema=True,
    )


# --- VariantType semi-structured extraction --------------------------
# Spark 4's VARIANT is the binary semi-structured format: JSON text is
# parsed ONCE into a typed binary encoding, and every downstream path
# extraction is a cheap binary traversal instead of a re-parse of the
# string. The entry round-trips events through a NESTED JSON payload
# (type at the top level, user/value under $.meta) — the shape an
# upstream event bus actually emits — then extracts typed paths and
# runs the shared round-trip fingerprint aggregate, so the oracle (the
# ORIGINAL parquet aggregated directly) proves parse_json →
# variant_get is lossless for string/bigint/double across nesting.
_VARIANT_ORACLE = _rt_oracle()


@register("events_variant_extract", oracle=_VARIANT_ORACLE)
def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → nested JSON string → VARIANT → typed path extraction →
    fingerprint aggregate (oracle aggregates the original parquet).

    Plan: to_json / parse_json / variant_get are all JVM codegen
    expressions — the whole payload column stays inside one
    WholeStageCodegen span, no Python crossing. At 100 TB the pattern
    is parse-once-extract-many: a pipeline that keeps payloads as
    strings re-parses the JSON for EVERY extracted field, while a
    variant column amortizes the parse into the ingest scan and each
    `variant_get` is a binary offset walk. NULL fields survive: to_json
    omits null struct fields and variant_get returns NULL for a
    missing path, so the aggregate's null semantics match the oracle's
    exactly."""
    ev = _events(spark, sf_dir).select(
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.struct(
                    F.col("user_id").alias("user"),
                    F.col("value").alias("value"),
                ).alias("meta"),
            )
        ).alias("payload")
    )
    var = ev.select(F.parse_json("payload").alias("v"))
    back = var.select(
        F.variant_get("v", "$.type", "string").alias("event_type"),
        F.variant_get("v", "$.meta.user", "bigint").alias("user_id"),
        F.variant_get("v", "$.meta.value", "double").alias("value"),
    )
    return _rt_aggregate(back)


# --- ANSI-safe arithmetic (try_divide / try_cast) ---------------------
# Spark 4 runs ANSI mode by default: raw division-by-zero and bad
# casts are ERRORS, which at 100 TB means one dirty row kills a
# 1000-executor job hours in. The try_* family is the engine's
# row-level quarantine — NULL for the poisoned row, job survives —
# and this entry pins its semantics cross-engine: try_divide ≡
# x / nullif(d, 0), try_cast ≡ TRY_CAST, over deterministically
# manufactured dirt (every 5th user divides by zero, every 7th has an
# unparseable id string).
_TRY_OPS_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_div0,
       CAST(sum(CAST(floor(
              (value / CAST(nullif(user_id % 5, 0) AS DOUBLE)) * 1000000.0
            ) / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_safe_ratio,
       CAST(count(TRY_CAST(
              CASE WHEN user_id % 7 = 0 THEN 'N/A'
                   ELSE CAST(user_id AS VARCHAR) END AS BIGINT))
            AS BIGINT) AS n_parsed
FROM events
GROUP BY event_type
"""


@register("events_try_ops_safe", oracle=_TRY_OPS_ORACLE)
def q_events_try_ops_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-data arithmetic through the try_* family: per event type,
    how many rows hit the zero divisor, the exact-decimal sum of the
    surviving quantized ratios, and how many ids parsed.

    Plan: try_divide/try_cast are codegen expressions — the quarantine
    costs nothing over the raw operators; one partial-agg exchange.
    The quotient is floor-quantized at 1e-6 per row and summed as
    DECIMAL(18,6) (order-independent), the suite's standard recipe for
    float aggregates. The alternative to try_* — a WHERE pre-filter
    per failure mode — needs one predicate per way a row can be dirty
    and still dies on the mode nobody predicted; NULL-on-failure
    composes."""
    ev = _events(spark, sf_dir).select("event_type", "user_id", "value")
    div = F.col("user_id") % 5
    quotient = F.try_divide(
        F.col("value"), div.cast("double")
    )
    dirty_id = F.when(F.col("user_id") % 7 == 0, F.lit("N/A")).otherwise(
        F.col("user_id").cast("string")
    )
    rows = ev.select(
        "event_type",
        F.when(div == 0, F.lit(1)).otherwise(F.lit(0)).alias("is_div0"),
        fixed(quotient, 6).alias("safe_ratio_q"),
        dirty_id.try_cast("bigint").alias("parsed_id"),
    )
    return rows.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_div0").alias("n_div0"),
        F.sum(dec("safe_ratio_q", 6)).cast("double").alias("sum_safe_ratio"),
        F.count("parsed_id").alias("n_parsed"),
    )


# --- MapType surface (map build / map_filter / explode back) ----------
# The one complex type the suite had not pinned: build a map column
# with map_from_entries over a per-user collected struct array, prune
# it with the higher-order map_filter, and explode it back flat. The
# oracle states the same result with plain GROUP BY + HAVING — so the
# round-trip through MapType (entry construction, lambda filtering,
# map explosion) is proven value-faithful, not just runnable.
_MAP_PROFILE_ORACLE = """
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id, event_type
HAVING count(*) >= 3
"""


@register("user_event_map_profile", oracle=_MAP_PROFILE_ORACLE)
def q_user_event_map_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type profile carried as a MAP column mid-plan:
    map_from_entries(collect_list(struct)) builds it, map_filter
    (n ≥ 3) prunes it lambda-side, explode flattens it back.

    Plan: two keyed exchanges, both map-side partial — (user, type)
    counts first, then the per-user map build over one row per
    surviving pair. That beats the single-exchange alternative
    (repartition raw events by user, then both aggs exchange-free):
    partial aggregation shrinks each shuffle to the pair/user
    cardinality, while the raw repartition would move EVERY event row
    once. map_filter/explode are codegen row ops. The map
    column is the right carrier when downstream wants per-user
    dictionaries (feature stores, per-user token budgets) — this
    entry proves the complex-type detour loses nothing vs the flat
    GROUP BY the oracle states. Keys are collision-free by
    construction (one entry per (user, type)), so map semantics are
    well-defined."""
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    profile = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("profile")
    )
    pruned = profile.select(
        "user_id",
        F.map_filter("profile", lambda _, v: v >= 3).alias("profile"),
    )
    return pruned.select(
        "user_id", F.explode("profile").alias("event_type", "n")
    )
