"""Time-series / streaming queries over events: tumbling windows (batch
+ REAL Structured Streaming backfill), session windows, and the as-of
join. The streaming query executes readStream → watermark → window agg →
memory sink and returns the drained sink — same oracle as batch (Kappa
property).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql2pg_spark.operators.asof import asof_join
from mysql2pg_spark.operators.rangejoin import range_lookback_join
from mysql2pg_spark.plans.registry import query
from mysql2pg_spark.plans.relational import DEC, dsum
from mysql2pg_spark.streaming.ingest import run_streaming_backfill, windowed_value_agg
from mysql2pg_spark.tables import load_table

_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*)                                             AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE)    AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


# --------------------------------------------------------------------------
# w01 — tumbling windows, batch path.
# --------------------------------------------------------------------------
@query("w01_tumbling_agg", oracle=_TUMBLING_ORACLE)
def w01_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return windowed_value_agg(e, "1 hour")


# --------------------------------------------------------------------------
# w02 — streaming backfill: the SAME aggregation through an actual
# Structured Streaming query (readStream → watermark → memory sink,
# availableNow). Same oracle as w01.
# --------------------------------------------------------------------------
_sink_counter = itertools.count()


@query("w02_streaming_windowed", oracle=_TUMBLING_ORACLE)
def w02_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = f"stream_windowed_events_{next(_sink_counter)}"
    out = run_streaming_backfill(spark, sf_dir, "1 hour", "10 minutes", sink)
    return out


# --------------------------------------------------------------------------
# w03 — session windows (10-minute inactivity gap) per user.
# Oracle: classic gaps-and-islands reconstruction.
# --------------------------------------------------------------------------
@query(
    "w03_session_windows",
    oracle="""
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), m AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM o
), g AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       min(ts)                                           AS session_start,
       max(ts) + INTERVAL 10 MINUTE                      AS session_end,
       COUNT(*)                                          AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM g
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    driver=False,
)
def w03_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# a01 — as-of join: each purchase gets the latest prior-or-equal click of
# the same user. Oracle: DuckDB's native ASOF LEFT JOIN.
# --------------------------------------------------------------------------
@query(
    "a01_asof_join",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts,
       c.ts       AS asof_ts,
       c.event_id AS asof_event_id,
       c.value    AS asof_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
""",
)
def a01_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "value"],
        tiebreak_col="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        "asof_event_id",
        "asof_value",
    )


# --------------------------------------------------------------------------
# p01 — per-user sessionization (the name is kept from its pandas
# grouped-map days). Sequence number, gap to the previous event and the
# session flag are window functions over one user-ordered window: one
# shuffle on user_id, one sort, no Python worker.
# --------------------------------------------------------------------------
def sessionize(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """Per-user event sequencing ordered by (ts, event_id): ``seq``
    (1-based), ``gap_us`` (microseconds since the user's previous event,
    -1 on the first) and ``is_session_start`` (first event, or a gap of
    at least ``gap_minutes``)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    prev = F.lag(ts_us).over(w)
    gap = ts_us - prev
    return events.select(
        "user_id",
        "event_id",
        "ts",
        F.row_number().over(w).cast("int").alias("seq"),
        F.coalesce(gap, F.lit(-1)).alias("gap_us"),
        (prev.isNull() | (gap >= gap_minutes * 60 * 1_000_000)).alias(
            "is_session_start"
        ),
    )


@query(
    "p01_grouped_map_sessionize",
    oracle="""
SELECT user_id, event_id, ts,
       CAST(row_number() OVER w AS INTEGER) AS seq,
       coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER w, -1) AS gap_us,
       (lag(ts) OVER w IS NULL
        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 600000000) AS is_session_start
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, seq
""",
)
def p01_grouped_map_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"), gap_minutes=10)


# --------------------------------------------------------------------------
# r01 — range (interval) join, banded: for every purchase, the count and
# value of the same user's clicks in the hour before it. The operator
# turns the range condition into an equi-join on (key, time band) — see
# operators/rangejoin.py for the 100 TB argument.
# --------------------------------------------------------------------------
@query(
    "r01_range_join",
    oracle="""
SELECT p.event_id, p.user_id, p.ts,
       CAST(COUNT(c.ts) AS BIGINT)                        AS n_clicks,
       CAST(SUM(CAST(c.value AS DECIMAL(38,4))) AS DOUBLE) AS click_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
GROUP BY 1, 2, 3
""",
)
def r01_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    matches = range_lookback_join(
        purchases, clicks, "user_id", "ts", "ts", 3600, ["value"]
    )
    agg = matches.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        dsum("r_value").alias("click_value"),
    )
    return purchases.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("n_clicks", F.lit(0)).cast("bigint").alias("n_clicks"),
        F.col("click_value"),
    )


# --------------------------------------------------------------------------
# w05 — sliding windows (1 hour wide, 30 minute slide): every event lands
# in exactly width/slide = 2 windows. Spark emits them natively from
# F.window; the oracle reconstructs them as two shifted 30-minute
# bucketings (start = bucket30(ts) - k·30min for k in {0,1}).
# --------------------------------------------------------------------------
@query(
    "w05_sliding_windows",
    oracle="""
WITH x AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts)                      AS ws, event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE AS ws, event_type, value FROM events
)
SELECT ws                                                AS window_start,
       ws + INTERVAL 60 MINUTE                           AS window_end,
       event_type,
       COUNT(*)                                          AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM x
GROUP BY 1, 2, 3
""",
)
def w05_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# w04 — custom STATEFUL streaming operator (applyInPandasWithState):
# per-user running counters carried in GroupState across micro-batches;
# final state must equal the batch GROUP BY.
# --------------------------------------------------------------------------
@query(
    "w04_stateful_stream_counts",
    oracle="""
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    driver=False,
)
def w04_stateful_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.streaming.ingest import run_stateful_user_counts

    sink = f"stream_user_counts_{next(_sink_counter)}"
    return run_stateful_user_counts(spark, sf_dir, sink)


# --------------------------------------------------------------------------
# w06 — streaming exact dedup: dropDuplicates state across micro-batches;
# the surviving fingerprint SET equals batch DISTINCT (arrival order
# only decides which row carried it, which we don't emit).
# --------------------------------------------------------------------------
@query(
    "w06_streaming_dedup",
    oracle="""
SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
""",
)
def w06_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.streaming.ingest import run_streaming_dedup

    sink = f"stream_dedup_{next(_sink_counter)}"
    return run_streaming_dedup(spark, sf_dir, sink)


# --------------------------------------------------------------------------
# w07 — stream-stream interval join (attribution shape): view → same-user
# purchase within 10 minutes, both sides watermarked readStreams. The
# wide watermark makes the inner join exactly equal the batch interval
# self-join (see run_stream_stream_join). Not in the driver window
# (w01-w06 cover the streaming family there); pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "w07_stream_stream_join",
    oracle="""
SELECT v.user_id AS v_user,
       v.event_id AS v_event_id,
       p.event_id AS p_event_id,
       v.ts AS v_ts,
       p.ts AS p_ts
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
ORDER BY v_event_id, p_event_id
""",
    driver=False,
)
def w07_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.streaming.ingest import run_stream_stream_join

    sink = f"stream_joined_events_{next(_sink_counter)}"
    return run_stream_stream_join(spark, sf_dir, sink)


# --------------------------------------------------------------------------
# ts01 — hourly gap-fill / resample: dense per-user hourly spine
# (sequence+explode per user, bounded by each user's own span) with
# exact-decimal hourly sums forward-filled across gaps. Not in the
# driver window (50-slot cap); pytest-oracle-checked.
# --------------------------------------------------------------------------
GAP_FILL_MAX_USER = 50


@query(
    "ts01_gap_fill",
    oracle=f"""
WITH b AS (
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
  FROM events WHERE user_id <= {GAP_FILL_MAX_USER}
  GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM b GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT s.user_id, s.hour,
       coalesce(b.n_events, 0) AS n_events,
       last_value(b.sum_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       (b.n_events IS NULL) AS is_gap
FROM spine s LEFT JOIN b ON b.user_id = s.user_id AND b.hour = s.hour
ORDER BY s.user_id, s.hour
""",
    driver=False,
)
def ts01_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators.resample import hourly_gap_fill

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") <= GAP_FILL_MAX_USER
    )
    return hourly_gap_fill(e)


# --------------------------------------------------------------------------
# ts02 — cohort retention triangle: first-seen day × day-offset exact
# distinct users. Not in the driver window; pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "ts02_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(time_bucket(INTERVAL '1 day', ts)) AS cohort_day
  FROM events GROUP BY 1
)
SELECT CAST(f.cohort_day AS DATE) AS cohort_day,
       CAST(date_diff('day', f.cohort_day, time_bucket(INTERVAL '1 day', e.ts)) AS BIGINT)
         AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN firsts f USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
""",
    driver=False,
)
def ts02_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators.resample import cohort_retention

    e = load_table(spark, sf_dir, "events")
    return cohort_retention(e)


# --------------------------------------------------------------------------
# ts03 — ordered funnel (view → click → purchase): step k completes at
# the earliest event of its type strictly after step k-1. One shuffle +
# a JVM-side fold over each user's sorted events; the oracle is the
# equivalent min-chained subquery ladder. Not in the driver window;
# pytest-oracle-checked.
# --------------------------------------------------------------------------
FUNNEL = ("view", "click", "purchase")


@query(
    "ts03_funnel",
    oracle=f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
s0 AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = '{FUNNEL[0]}' GROUP BY 1
),
s1 AS (
  SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = '{FUNNEL[1]}' AND e.ts > s0.t0 GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL[2]}' AND e.ts > s1.t1 GROUP BY 1
)
SELECT u.user_id,
       s0.t0 AS t_{FUNNEL[0]}, s1.t1 AS t_{FUNNEL[1]}, s2.t2 AS t_{FUNNEL[2]},
       CAST((s0.user_id IS NOT NULL)::INT + (s1.user_id IS NOT NULL)::INT
            + (s2.user_id IS NOT NULL)::INT AS BIGINT) AS steps_completed
FROM u
LEFT JOIN s0 USING (user_id)
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
ORDER BY u.user_id
""")
def ts03_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.operators.resample import funnel_steps

    e = load_table(spark, sf_dir, "events")
    return funnel_steps(e, list(FUNNEL))


# --------------------------------------------------------------------------
# w08 — streaming upsert via foreachBatch: per-batch latest-wins
# compaction appended to a keyed store, final reduction across batches —
# equals the batch per-user-latest exactly (the Kappa property again,
# now for the MERGE-shaped sink idiom). Not in the driver window;
# pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "w08_streaming_upsert",
    oracle="""
SELECT user_id, event_id AS last_event_id, ts AS last_ts,
       value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
""",
    driver=False,
)
def w08_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.streaming.ingest import run_streaming_upsert

    return run_streaming_upsert(spark, sf_dir)


# --------------------------------------------------------------------------
# q15 — recursive CTE (new in Spark 4): data-driven daily spine walked
# recursively from min(ts) to max(ts), left-joined to per-day event
# aggregates so empty days appear with zero counts — the calendar-spine
# idiom MySQL 8 recursive-CTE views use. DuckDB runs the identical SQL.
# Not in the driver window; pytest-oracle-checked.
# --------------------------------------------------------------------------
_Q15_SQL = """
WITH RECURSIVE days(d, dmax) AS (
  -- bounds ride INSIDE the recursion as columns: a scalar subquery in
  -- the termination predicate is re-evaluated every step (30 full
  -- scans of events, measured 7.8s -> 0.5s at sf0.1 with this shape)
  SELECT date_trunc('DAY', min(ts)), date_trunc('DAY', max(ts)) FROM events
  UNION ALL
  SELECT d + INTERVAL 1 DAY, dmax FROM days
  WHERE d + INTERVAL 1 DAY <= dmax
),
agg AS (
  SELECT date_trunc('DAY', ts) AS d,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1
)
SELECT CAST(days.d AS TIMESTAMP) AS day,
       CAST(coalesce(agg.n_events, 0) AS BIGINT) AS n_events,
       coalesce(agg.sum_value, 0.0) AS sum_value
FROM days LEFT JOIN agg ON agg.d = days.d
ORDER BY day
"""
# (CAST day: DuckDB's date_trunc('DAY') yields DATE, Spark's yields
# TIMESTAMP — the cast makes the shared SQL emit TIMESTAMP in both.)


@query("q15_recursive_cte", oracle=_Q15_SQL)
def q15_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.tables import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_Q15_SQL)


# --------------------------------------------------------------------------
# ts04 — per-event trailing-hour aggregate via a RANGE window frame (the
# true event-time moving aggregate, vs w05's bucketed sliding windows):
# for every event, the count and exact-decimal sum of the SAME user's
# events in [ts − 1h, ts]. Spark's RANGE frame needs a numeric ORDER BY,
# so the frame runs over unix microseconds; DuckDB uses the native
# INTERVAL range frame — identical inclusive semantics (ties are frame
# peers in both). Not in the driver window; pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "ts04_trailing_window",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
       CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
""",
    driver=False,
)
def ts04_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing"),
        F.sum(F.col("value").cast("decimal(38,4)"))
        .over(w)
        .cast("double")
        .alias("sum_trailing"),
    )


# --------------------------------------------------------------------------
# w09 — stream-static enrichment join: streaming events joined to a
# static per-user profile dimension inside the streaming query (the
# lookup pattern — re-planned per micro-batch, no join state, no
# watermark). Oracle: the equivalent batch join. Not in the driver
# window; pytest-oracle-checked.
# --------------------------------------------------------------------------
@query(
    "w09_stream_static_enrich",
    oracle="""
WITH profile AS (
  SELECT user_id, time_bucket(INTERVAL '1 day', min(ts)) AS first_seen,
         CAST(count(*) AS BIGINT) AS n_total
  FROM events GROUP BY 1
)
SELECT e.event_id, e.user_id, e.event_type, p.first_seen, p.n_total
FROM events e JOIN profile p USING (user_id)
ORDER BY e.event_id
""",
    driver=False,
)
def w09_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.streaming.ingest import run_stream_static_enrich

    sink = f"stream_enriched_{next(_sink_counter)}"
    return run_stream_static_enrich(spark, sf_dir, sink)



# --------------------------------------------------------------------------
# w11 — bounded-state streaming dedup (dropDuplicatesWithinWatermark):
# per-key state is evicted once the watermark passes it, so dedup runs
# with finite memory on an unbounded feed. Fixture span << watermark ⇒
# output ≡ batch DISTINCT (exact oracle).
# --------------------------------------------------------------------------
@query(
    "w11_dedup_within_watermark",
    oracle="""
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
""",
    driver=False,
)
def w11_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2pg_spark.streaming.ingest import run_dedup_within_watermark

    sink = f"stream_wm_dedup_{next(_sink_counter)}"
    return run_dedup_within_watermark(spark, sf_dir, sink)


# --------------------------------------------------------------------------
# ts05 — seasonality profile: the (day-of-week × hour) activity matrix
# per event type — the load-shape/staleness dashboard behind every
# time-partitioned pipeline. Exact counts + DEC-accumulated value sums;
# one combineable shuffle over at most 7·24·|types| groups. Day-of-week
# ISO-pinned (1 = Monday on both engines).
# --------------------------------------------------------------------------
@query(
    "ts05_seasonality",
    oracle="""
SELECT event_type,
       CAST(isodow(ts) AS BIGINT)                       AS dow,
       CAST(hour(ts) AS BIGINT)                         AS hod,
       COUNT(*)                                         AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, dow, hod
ORDER BY event_type, dow, hod
""",
    driver=False,
)
def ts05_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.dayofweek("ts").alias("_d"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        # Spark dayofweek: 1 = Sunday; DuckDB isodow: 1 = Monday —
        # convert to ISO on the Spark side
        .select(
            "event_type",
            (((F.col("_d") + 5) % 7) + 1).cast("bigint").alias("dow"),
            "hod",
            "n_events",
            "sum_value",
        )
        .orderBy("event_type", "dow", "hod")
    )
