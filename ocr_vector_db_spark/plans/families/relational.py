"""Relational core: scans, filters, joins, aggs, windows, set ops (q01-q15).

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
# Relational core (scans, filters, joins, aggs, windows, set ops)
# =====================================================================


@query(
    "q01_pricing_summary_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum('l_quantity')} AS sum_qty,
           {_sql_dsum('l_extendedprice')} AS sum_base_price,
           {_sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           ROUND({_sql_dsum('l_quantity')} / COUNT(*), 6) AS avg_qty,
           ROUND({_sql_dsum('l_extendedprice')} / COUNT(*), 6) AS avg_price,
           ROUND({_sql_dsum('l_discount')} / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf):
    """TPC-H-Q1-shaped pricing summary: the reference's metrics-style
    aggregation pattern (storage/metrics.py:32-96) at scale — one scan,
    partial+final hash agg, no shuffle beyond the 4-group agg."""
    li = load_table(spark, sf, "lineitem")
    f = F.col
    return (
        li.filter(f("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(f("l_quantity")).alias("sum_qty"),
            dsum(f("l_extendedprice")).alias("sum_base_price"),
            dsum(f("l_extendedprice") * (1 - f("l_discount"))).alias("sum_disc_price"),
            dsum(f("l_extendedprice") * (1 - f("l_discount")) * (1 + f("l_tax"))).alias("sum_charge"),
            F.round(dsum(f("l_quantity")) / F.count("*"), 6).alias("avg_qty"),
            F.round(dsum(f("l_extendedprice")) / F.count("*"), 6).alias("avg_price"),
            F.round(dsum(f("l_discount")) / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q02_filter_pushdown_revenue",
    f"""
    SELECT {_sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q02(spark, sf):
    """Predicate-pushdown scan (reference filter composition,
    retrieval/search.py:89-97): all three predicates reach the parquet scan."""
    li = load_table(spark, sf, "lineitem")
    f = F.col
    return (
        li.filter(
            (f("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (f("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (f("l_discount") >= 0.05)
            & (f("l_discount") <= 0.07)
            & (f("l_quantity") < 24)
        )
        .agg(dsum(f("l_extendedprice") * f("l_discount")).alias("revenue"))
    )


@query(
    "q03_broadcast_join_star",
    f"""
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
           {_sql_dsum('c.c_acctbal')} AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q03(spark, sf):
    """Dim-join star pattern (embedding ⋈ collection analogue,
    retrieval/search.py:108-110): both dims broadcast — zero shuffles for
    the joins, one for the final agg."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@query(
    "q04_context_left_join",
    """
    WITH top_items AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 100
    )
    SELECT t.l_orderkey, t.l_linenumber, t.l_extendedprice,
           o.o_orderpriority AS parent_priority, o.o_orderstatus AS parent_status
    FROM top_items t LEFT JOIN orders o ON t.l_orderkey = o.o_orderkey
    """,
)
def q04(spark, sf):
    """Context expansion: top-k results left-joined to their parent rows
    (ContextExpander, retrieval/context.py:52-119) — the k-row side is
    broadcast onto the parent table."""
    from ocr_vector_db_spark.operators.context import expand_context  # noqa: F401

    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    top = (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )
    parents = o.select(
        F.col("o_orderkey"),
        F.col("o_orderpriority").alias("parent_priority"),
        F.col("o_orderstatus").alias("parent_status"),
    )
    return F.broadcast(top).join(
        parents, top["l_orderkey"] == parents["o_orderkey"], "left"
    ).drop("o_orderkey")


@query(
    "q05_global_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def q05(spark, sf):
    """Global top-k (ORDER BY … LIMIT k, retrieval/search.py:111-113):
    compiles to TakeOrderedAndProject — per-partition heaps, no full sort."""
    o = load_table(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "q06_topn_per_group",
    """
    SELECT * FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
               ) AS BIGINT) AS rank_in_group
        FROM lineitem
    ) WHERE rank_in_group <= 3
    """,
)
def q06(spark, sf):
    """top_n_per_group (retrieval/grouping.py:96-118) over a real key."""
    li = load_table(spark, sf, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rank_in_group", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank_in_group") <= 3)
    )


@query(
    "q07_dedup_exact_fingerprint",
    r"""
    SELECT md5(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 60)) AS fingerprint,
           COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1 HAVING COUNT(*) >= 2
    """,
)
def q07(spark, sf):
    """Exact-dup groups by normalized-prefix fingerprint (doc_id dedupe,
    storage/vector_store.py:71-78): hash → groupBy → HAVING."""
    d = load_table(spark, sf, "documents")
    fp = F.md5(
        F.substring(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 1, 60)
    )
    return (
        d.select(fp.alias("fingerprint"), F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") >= 2)
    )


@query(
    "q08_distribution_groupby",
    "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang",
)
def q08(spark, sf):
    """Value distribution (view/lang distributions, storage/metrics.py:82-96)."""
    d = load_table(spark, sf, "documents")
    return metrics.distribution(d, "lang", limit=1000).select("lang", "n")


@query(
    "q09_cascade_delete_anti_join",
    """
    SELECT l_returnflag, COUNT(*) AS surviving_items,
           CAST(SUM(CAST(ROUND(l_extendedprice,6) AS DECIMAL(28,6))) AS DOUBLE) AS surviving_value
    FROM lineitem l
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
    )
    GROUP BY l_returnflag
    """,
)
def q09(spark, sf):
    """Cascade delete as anti-join (storage/cascade.py:83-151): children of
    deleted parents are removed by left_anti against the doomed key set."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    doomed = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        li.join(doomed, li["l_orderkey"] == doomed["o_orderkey"], "left_anti")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("surviving_items"),
            dsum(F.col("l_extendedprice")).alias("surviving_value"),
        )
    )


@query(
    "q10_semi_join_exists",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def q10(spark, sf):
    """find_by_document_id-style existence lookup as left_semi join."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q11_forward_fill_window",
    """
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
    FROM events
    """,
)
def q11(spark, sf):
    """Forward-fill window (page/section running assignment,
    app/parents.py:47-92): last non-null over an unbounded-preceding frame."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        F.last(marked, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@query(
    "q12_running_sum_window",
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    """,
)
def q12(spark, sf):
    """Running sum per key (sequential-scan analogue of the unitizer's
    accumulation, ingestion/segmentation.py:40-146)."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("running_value")
    )


@query(
    "q13_quality_metrics_single_pass",
    """
    SELECT COUNT(*) AS total_docs,
           CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
           COUNT(DISTINCT lang) AS distinct_langs,
           COUNT(DISTINCT source) AS distinct_sources,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
    FROM documents
    """,
)
def q13(spark, sf):
    """Single-pass conditional aggregation: the reference's N separate metric
    queries (storage/metrics.py:32-96) collapsed into one scan."""
    d = load_table(spark, sf, "documents")
    return d.agg(
        F.count("*").alias("total_docs"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).cast("bigint").alias("short_docs"),
        F.countDistinct("lang").alias("distinct_langs"),
        F.countDistinct("source").alias("distinct_sources"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias("avg_chars"),
    )


@query(
    "q14_duplicate_groups_having",
    """
    SELECT l_orderkey, COUNT(*) AS n
    FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
    """,
)
def q14(spark, sf):
    """Duplicate-key groups (GROUP BY … HAVING COUNT>1, storage/metrics.py:60-68)."""
    li = load_table(spark, sf, "lineitem")
    return metrics.duplicate_groups(li, "l_orderkey")


@query(
    "q15_union_dedup",
    """
    SELECT p_partkey, p_name FROM part WHERE p_size < 10
    UNION
    SELECT p_partkey, p_name FROM part WHERE p_retailprice > 980
    """,
)
def q15(spark, sf):
    """Order-preserving dedup-union of two selections (glob dedup-union,
    api/cli/ingest.py:43-51) → union + distinct."""
    p = load_table(spark, sf, "part")
    a = p.filter(F.col("p_size") < 10).select("p_partkey", "p_name")
    b = p.filter(F.col("p_retailprice") > 980).select("p_partkey", "p_name")
    return a.union(b).distinct()


