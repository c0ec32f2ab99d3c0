"""Temporal / ordered-sequence operator family over ``events``:
batch sessionization, as-of join, lag deltas, calendar rollups, each
with a DuckDB oracle.

Exactness: all time arithmetic in integer microseconds
(``unix_micros`` ↔ ``epoch_us``); session ids are integer running
sums over an explicitly total order (ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.io import load

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

SESSION_GAP_US = 1800 * 1_000_000  # 30 min


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


# --- batch sessionization (gap > 30 min starts a new session) ---------------
# session_id = running count of gap-breaks per user.
@register("event_sessions", f"""
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    marked AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR us - prev_us > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS is_start
      FROM o
    ),
    sess AS (
      SELECT user_id, event_id, us,
             CAST(sum(is_start) OVER (PARTITION BY user_id
                   ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) AS BIGINT) AS end_us
    FROM sess GROUP BY user_id, session_id
""")
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.withColumn(
        "is_start",
        F.when(F.lag("us").over(w).isNull()
               | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US), 1)
        .otherwise(0))
    run = (
        Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn(
        "session_id", F.sum("is_start").over(run).cast("bigint"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


# --- as-of join (J8 family): for each purchase, the most recent prior
# click of the same user ------------------------------------------------------
@register("purchase_last_click_asof", """
    WITH o AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    flagged AS (
      SELECT *, last_value(CASE WHEN event_type = 'click' THEN event_id END
                           IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_id
      FROM o
    )
    SELECT event_id AS purchase_id, user_id, last_click_id
    FROM flagged WHERE event_type = 'purchase'
""")
def purchase_last_click_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    w = (
        Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marker = F.when(F.col("event_type") == "click", F.col("event_id"))
    return (
        e.withColumn("last_click_id",
                     F.last(marker, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                "last_click_id")
    )


# --- lag deltas: inter-event spacing per user --------------------------------
@register("event_gaps", """
    SELECT user_id, event_id,
           CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS gap_us
    FROM events
    QUALIFY gap_us IS NOT NULL
""")
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return (
        e.withColumn("gap_us", (F.col("us") - F.lag("us").over(w)))
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", "event_id", "gap_us")
    )


# --- time-bucket rollups in ONE driver row: hourly batch tumbling windows
# over events + calendar-month rollup over orders.  Merged because the
# driver gate records at most 50 entries; both groupings remain distinct
# plans inside the union. -----------------------------------------------
@register("time_bucket_rollup", """
    SELECT 'event_hour' AS series, date_trunc('hour', ts) AS bucket_start,
           event_type AS grp, count(*) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS measure_c
    FROM events GROUP BY date_trunc('hour', ts), event_type
    UNION ALL
    SELECT 'order_month', CAST(date_trunc('month', o_orderdate) AS TIMESTAMP),
           NULL, count(*),
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
    FROM orders GROUP BY date_trunc('month', o_orderdate)
""")
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .alias("measure_c"))
        .select(F.lit("event_hour").alias("series"),
                F.col("w.start").alias("bucket_start"),
                F.col("event_type").alias("grp"), "n", "measure_c")
    )
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("bucket_start"))
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
             .alias("measure_c"))
        .select(F.lit("order_month").alias("series"), "bucket_start",
                F.lit(None).cast("string").alias("grp"), "n", "measure_c")
    )
    return hourly.unionAll(monthly)


# --- cross-table integration: document quality × embedding norm --------------
@register("doc_embedding_join", """
    WITH q AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS tokens
      FROM documents
    ),
    n AS (
      SELECT vec_id,
             CAST(list_dot_product(
               list_transform(embedding, x -> floor(CAST(x AS DOUBLE)*1000 + 0.5)),
               list_transform(embedding, x -> floor(CAST(x AS DOUBLE)*1000 + 0.5)))
               AS BIGINT) AS norm2_q
      FROM embeddings
    )
    SELECT q.doc_id, q.tokens, n.norm2_q
    FROM q JOIN n ON q.doc_id = n.vec_id
""")
def doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .alias("tokens"))
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("bigint"))
    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id"),
        F.aggregate(F.zip_with(qv, qv, lambda a, b: a * b),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("norm2_q"))
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "tokens", "norm2_q")
