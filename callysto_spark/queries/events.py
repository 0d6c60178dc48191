"""Event-stream operator coverage on the `events` table: JSON scalar
functions, tumbling/sliding windows (batch analog of the streaming
window operator), gap sessionization, deterministic dedup, as-of join,
ntile bucketing.

These are the batch twins of the Structured Streaming operators in
callysto_spark.streaming — same logical semantics, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from callysto_spark.operators import asof_join, dedup_exact, sessionize
from callysto_spark.functions import fixed_sum, rnd
from callysto_spark.queries import register
from callysto_spark.tables import load


@register(
    "events_json_kv",
    oracle="""
SELECT event_id, event_type,
       TRY_CAST(CASE WHEN trim(json_extract_string(TRY_CAST(props AS JSON), '$.k')) SIMILAR TO '[-+]?[0-9]+' THEN json_extract_string(TRY_CAST(props AS JSON), '$.k') END AS INT) AS k,
       value
FROM events
""",
)
def events_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level JSON extraction (get_json_object → JVM Jackson kernel)."""
    e = load(spark, sf_dir, "events")["events"]
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").try_cast("int").alias("k"),
        "value",
    )


@register(
    "events_type_stats",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(TRY_CAST(CASE WHEN trim(json_extract_string(TRY_CAST(props AS JSON), '$.k')) SIMILAR TO '[-+]?[0-9]+' THEN json_extract_string(TRY_CAST(props AS JSON), '$.k') END AS INT)) AS BIGINT) AS sum_k,
       MSUM(value) / count(*) AS avg_value,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM events GROUP BY event_type
""",
)
def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over JSON-derived and native columns."""
    e = load(spark, sf_dir, "events")["events"]
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.get_json_object("props", "$.k").try_cast("int")).alias("sum_k"),
        (fixed_sum("value") / F.count(F.lit(1))).alias("avg_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "events_hourly_tumbling",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
       count(*) AS n, MSUM(value) AS total_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
""",
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — the batch analog of
    ``groupBy(window(ts, '1 hour'))`` in streaming (same epoch-aligned
    window starts). An untimed (NULL ts) event lands in NO window —
    Spark's window() drops it; the oracle filters identically."""
    e = load(spark, sf_dir, "events")["events"]
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), fixed_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total_value")
    )


@register(
    "events_sliding_1h_30m",
    oracle="""
WITH hopped AS (
  SELECT unnest([
           CAST(date_trunc('hour', ts) AS TIMESTAMP) + CASE WHEN extract(minute FROM ts) >= 30
                                         THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) + CASE WHEN extract(minute FROM ts) >= 30
                                         THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
             - INTERVAL 30 MINUTE
         ]) AS ws,
         value
  FROM events WHERE ts IS NOT NULL
)
SELECT ws, count(*) AS n, MSUM(value) AS total_value
FROM hopped GROUP BY ws
""",
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 30 min hop): every event lands in
    exactly two epoch-aligned windows (NULL ts → no window, matching
    Spark's window() semantics; the oracle filters identically)."""
    e = load(spark, sf_dir, "events")["events"]
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), fixed_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("ws"), "n", "total_value")
    )


@register(
    "events_sessionize",
    oracle="""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       MSUM(value) AS total_value
FROM s GROUP BY 1, 2
""",
    bench=True,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (30 min) + per-session rollup. One shuffle on
    user_id serves the window AND the session aggregation."""
    e = load(spark, sf_dir, "events")["events"]
    sess = sessionize(e, "user_id", "ts", gap_seconds=1800)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        fixed_sum("value").alias("total_value"),
    )


@register(
    "events_dedup_latest",
    oracle="""
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: latest event per (user, type) — unlike
    dropDuplicates, the survivor is defined by a total order."""
    e = load(spark, sf_dir, "events")["events"]
    return dedup_exact(
        e.select("user_id", "event_type", "event_id", "ts"),
        ["user_id", "event_type"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )


@register(
    "events_asof_purchase_click",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts, p.value, c.click_id, c.click_ts
FROM (SELECT * FROM p WHERE ts IS NOT NULL) p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.click_ts < p.ts
UNION ALL
-- strict-SQL NULL semantics, pinned: a NULL-ts purchase matches nothing
-- (DuckDB's sort-merge ASOF would instead hand it the key's LATEST
-- click — c.click_ts < NULL never holds, so we carve these rows out)
SELECT event_id, user_id, ts, value,
       CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS TIMESTAMP) AS click_ts
FROM p WHERE ts IS NULL
""",
    bench=True,
)
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's latest strictly-earlier
    click. Union-sort implementation — single shuffle on user_id, no
    row-explosion (see operators/asof.py)."""
    e = load(spark, sf_dir, "events")["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_id", "click_ts"],
        strict=True,
    ).select("event_id", "user_id", "ts", "value", "click_id", "click_ts")


@register(
    "user_spend_deciles",
    oracle="""
WITH spend AS (
  SELECT user_id, MSUM(value) AS spend, count(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, spend, n_purchases,
       ntile(10) OVER (ORDER BY spend DESC, user_id) AS decile
FROM spend
""",
)
def user_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing over a global order — via global_ntile
    (range-partition + partition-local rank + in-plan offsets), so no
    ``Exchange SinglePartition`` funnels the per-user aggregate through
    one task at 10⁹ users. Exact ntile semantics, oracle unchanged."""
    from callysto_spark.operators.relational import global_ntile

    e = load(spark, sf_dir, "events")["events"]
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(fixed_sum("value").alias("spend"), F.count(F.lit(1)).alias("n_purchases"))
    )
    return global_ntile(spend, [F.col("spend").desc(), F.col("user_id")], 10, out="decile")


@register(
    "events_interval_join_clicks",
    oracle="""
SELECT p.event_id AS purchase_id,
       count(c.event_id) AS clicks_5m,
       CAST(coalesce(max(c.event_id), -1) AS BIGINT) AS last_click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 5 MINUTE AND c.ts < p.ts
GROUP BY p.event_id
""",
)
def events_interval_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-band) join, batch twin of the stream-stream
    interval join in tests/test_streaming.py: every purchase joined to
    the same user's clicks in the preceding 5 minutes. The equi key
    (user_id) keeps it a plain shuffled hash join with the band as a
    residual filter — no range-join blowup."""
    e = load(spark, sf_dir, "events")["events"]
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    joined = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("cts") < F.col("pts")),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count("click_id").alias("clicks_5m"),
        F.coalesce(F.max("click_id"), F.lit(-1)).alias("last_click_id"),
    )


@register(
    "events_user_salted_counts",
    oracle="""
SELECT user_id, count(*) AS count
FROM events GROUP BY user_id
""",
)
def events_user_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py): count by
    (key, salt) then re-aggregate by key — the skewed-aggregation
    rewrite AQE cannot do (it only splits join partitions). Oracle is
    the plain GROUP BY count the rewrite must exactly reproduce."""
    from callysto_spark.operators.skew import salted_count

    e = load(spark, sf_dir, "events")["events"]
    return salted_count(e, ["user_id"], salt=16)


def _quantile_sketch_oracle() -> str:
    """Composed from the SAME spec helpers the Spark side uses
    (operators/dedup.py spec_hash_sql, operators/sketches.py
    kmv_distinct_sql), so a future change to the spec hash or KMV
    estimator cannot leave this oracle silently stale. NULL handling
    and tie-breaks mirror the operators exactly: NULL sample keys
    excluded before ranking, hash ties broken by the key itself, NULL
    values excluded before the quantile ranking (m counts non-null
    only), NULL users ignored by the KMV sketch."""
    from callysto_spark.operators.dedup import spec_hash_sql
    from callysto_spark.operators.sketches import kmv_distinct_sql

    key = "CAST(event_id AS VARCHAR)"
    kmv = kmv_distinct_sql("events", "event_type", "CAST(user_id AS VARCHAR)", k=256, out="kmv_users")
    return f"""
WITH hs AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
             ORDER BY {spec_hash_sql(key)}, {key}
         ) AS hrn
  FROM events WHERE event_id IS NOT NULL
), ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS vrn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM hs WHERE hrn <= 1024 AND value IS NOT NULL
), q AS (
  SELECT event_type,
         max(CASE WHEN vrn = floor((m + 1) / 2) THEN value END) AS p50,
         max(CASE WHEN vrn = floor((9 * m + 9) / 10) THEN value END) AS p90,
         max(CASE WHEN vrn = floor((99 * m + 99) / 100) THEN value END) AS p99
  FROM ranked GROUP BY event_type
), u AS (
  SELECT event_type, kmv_users FROM ({kmv})
), c AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
)
SELECT q.event_type, p50, p90, p99, kmv_users, n
FROM q JOIN u USING (event_type) JOIN c USING (event_type)
ORDER BY event_type
"""


@register("events_value_quantile_sketch", oracle=_quantile_sketch_oracle())
def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-family aggregates per event type, on spec-defined sketches
    (operators/sketches.py) so every output is hash-checkable: p50/p90/
    p99 as type-1 quantiles over a deterministic bottom-k-by-hash
    uniform sample (k=1024, the mergeable order-sample twin of
    percentile_approx), approximate distinct users via the KMV sketch
    (k=256, the twin of approx_count_distinct), and an exact row count.
    Was rows-only when built on GK/HLL++ (engine-specific boundary
    choices); pytest pins sample-quantile error vs the exact
    percentiles (tests/test_sketches.py). Exact-percentile twin:
    price_quartiles_by_segment."""
    from callysto_spark.operators.sketches import (
        bottom_k_sample,
        kmv_distinct,
        type1_quantiles,
    )

    e = load(spark, sf_dir, "events")["events"]
    samp = bottom_k_sample(
        e.select("event_type", "event_id", "value"),
        ["event_type"],
        F.col("event_id").cast("string"),
        k=1024,
    )
    q = type1_quantiles(
        samp, ["event_type"], "value", [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]
    )
    users = kmv_distinct(
        e, ["event_type"], F.col("user_id").cast("string"), k=256, out="kmv_users"
    ).select("event_type", "kmv_users")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return q.join(users, "event_type").join(counts, "event_type").orderBy("event_type")


@register(
    "events_changelog_materialize",
    oracle="""
WITH ch AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
  FROM events
)
SELECT user_id, value AS current_value, ts AS updated_at
FROM (
  SELECT user_id, value, ts, op,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ch
) WHERE rn = 1 AND op <> 'delete'
""",
)
def events_changelog_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (reference apply_changelog_batch semantics,
    `stores/rocksdb.rs:395-447`): events as a change stream keyed by
    user — last-write-wins, 'error' rows act as tombstones."""
    from callysto_spark.operators.changelog import changelog_materialize

    e = load(spark, sf_dir, "events")["events"]
    ch = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "delete").otherwise("upsert").alias("op"),
    )
    out = changelog_materialize(ch, ["user_id"], [F.col("ts"), F.col("event_id")])
    return out.select(
        "user_id", F.col("value").alias("current_value"), F.col("ts").alias("updated_at")
    )
