"""Events: tumbling windows, sessionization, JSON extraction (q28-q31).

Split from the former monolithic plans/inventory.py (round 9); the
registry, engine-portability rules and shared helpers live in
`plans/families/core.py`, and `plans/inventory.py` re-exports the maps.
Registration order is preserved by the hub's import order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ocr_vector_db_spark.functions import text_analysis as ta  # noqa: F401
from ocr_vector_db_spark.functions import validators  # noqa: F401
from ocr_vector_db_spark.functions.chunking import chunk_fixed_col  # noqa: F401
from ocr_vector_db_spark.operators import (  # noqa: F401
    dedup,
    grouping,
    knn,
    metrics,
)
from ocr_vector_db_spark.plans.families.core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _sql_dsum,
    dsum,
    query,
)
from ocr_vector_db_spark.session import load_table  # noqa: F401

# =====================================================================
# Events: windows, sessionization, JSON
# =====================================================================


@query(
    "q29_tumbling_window_agg",
    f"""
    SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS window_start_us, event_type,
           COUNT(*) AS n_events, {_sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q29(spark, sf):
    """Tumbling-window aggregation (batch twin of the Structured Streaming
    windowed agg; same plan shape at 100 TB: partial agg → shuffle on
    (window, type) → final). Output timestamps are epoch-microsecond
    bigints — the inventory-wide canonical form (raw timestamp columns hash
    differently across engines on nanos-precision sources)."""
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("window_start_us"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), dsum(F.col("value")).alias("total_value"))
    )


@query(
    "q30_sessionization",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts::TIMESTAMP) - epoch_us(lag(ts) OVER w ::TIMESTAMP) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           epoch_us(MIN(ts)::TIMESTAMP) AS session_start_us,
           epoch_us(MAX(ts)::TIMESTAMP) AS session_end_us
    FROM sessions GROUP BY user_id, session_seq
    """,
)
def q30(spark, sf):
    """Sessionization: lag-gap detection + running sum of session starts
    (the batch expression of session windows; gap = 30 min)."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = e.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn("session_seq", F.sum("is_new").over(wcum))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
    )


@query(
    "q31_json_extract_agg",
    f"""
    SELECT CAST(props->>'$.k' AS INTEGER) AS k, COUNT(*) AS n,
           {_sql_dsum('value')} AS total_value
    FROM events GROUP BY 1
    """,
)
def q31(spark, sf):
    """Dynamic-metadata access (cmetadata->>'key' analogue,
    retrieval/search.py:101-107): JSON path extraction + aggregation."""
    e = load_table(spark, sf, "events")
    return (
        e.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"), F.col("value")
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))
    )


