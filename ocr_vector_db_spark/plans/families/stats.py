"""Corpus statistics, vector aggregation, time series (q40-q85 band).

Split from the former monolithic plans/inventory.py (round 9); the
registry, engine-portability rules and shared helpers live in
`plans/families/core.py`, and `plans/inventory.py` re-exports the maps.
Registration order is preserved by the hub's import order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ocr_vector_db_spark.functions import text_analysis as ta  # noqa: F401
from ocr_vector_db_spark.functions.tokenize import tokens_of  # noqa: F401
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
from ocr_vector_db_spark.session import (  # noqa: F401
    load_table,
    session_memo,
    session_tempdir,
)
from ocr_vector_db_spark.plans.families.vector import _MH_CAND_SQL  # noqa: F401

# =====================================================================
# Round-1 batch 2: corpus statistics, vector aggregation, time series
# =====================================================================


@query(
    "q65_token_zipf_topk",
    """
    WITH w AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS cnt
    FROM w WHERE token <> ''
    GROUP BY token ORDER BY cnt DESC, token LIMIT 50
    """,
)
def q65(spark, sf):
    """Global token-frequency top-k (Zipf head): the corpus vocabulary scan
    behind TF-IDF / BPE tokenizer training. explode -> hash agg relies on
    map-side partial aggregation so the shuffle carries one row per distinct
    token per partition (vocabulary-sized, ~1e6), not one per token
    occurrence (~1e11 at 100 TB); top-k is TakeOrderedAndProject."""
    d = load_table(spark, sf, "documents")
    return (
        d.select(F.explode(tokens_of(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(50)
    )


_DIM = 64


@query(
    "q66_label_centroids",
    f"""
    SELECT label, CAST(r.i AS BIGINT) AS dim,
           ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[CAST(r.i + 1 AS INT)] AS DOUBLE) * 1000000.0, 0)
                              AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
               AS centroid
    FROM embeddings CROSS JOIN range({_DIM}) r(i)
    GROUP BY label, r.i
    """,
)
def q66(spark, sf):
    """Per-label centroid (elementwise mean embedding) — the class-prototype /
    KMeans-update aggregation. One pass, one {_DIM}-column partial agg per
    group (exact scaled-bigint sums: elements rounded to 6 dp then summed as
    integers — order-independent like decimal but ~40% cheaper to
    analyze+codegen and 8-byte accumulators on the wire; overflow-safe to
    ~1e11 rows per label, see q33): the shuffle carries
    n_labels x {_DIM} accumulators, NOT n_rows x dim exploded rows — at 100 TB
    the posexplode formulation would shuffle 64x the table; this shuffles KB.
    Built plan memoized per (session, sf) like q33 — the wide generated SQL
    costs ~0.4s to parse+analyze per construction."""
    def build():
        e = load_table(spark, sf, "embeddings")
        e.createOrReplaceTempView("q66_embeddings")
        # Generated-SQL construction: a 64-dim expression tree built column by
        # column costs hundreds of Py4J round trips (~1.3s driver latency); one
        # parse of generated SQL yields the identical plan (see q33).
        sum_terms = ", ".join(
            f"SUM(CAST(ROUND(CAST(embedding[{i}] AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
            f" AS s{i}"
            for i in range(_DIM)
        )
        mean_terms = ", ".join(
            f"ROUND(CAST(s{i} AS DOUBLE) / 1000000.0 / n, 6)" for i in range(_DIM)
        )
        # the posexplode here runs over n_labels pre-aggregated rows (KB-scale),
        # not the input table — input rows never explode
        return spark.sql(f"""
            WITH sums AS (
                SELECT label, COUNT(*) AS n, {sum_terms}
                FROM q66_embeddings GROUP BY label
            ),
            m AS (SELECT label, posexplode(array({mean_terms})) AS (dim, centroid)
                  FROM sums)
            SELECT label, CAST(dim AS BIGINT) AS dim, centroid FROM m
        """)

    return session_memo(spark, sf, "q66", build)


@query(
    "q67_user_moving_avg",
    """
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mov_avg
    FROM events
    """,
)
def q67(spark, sf):
    """Trailing moving average (4-event frame) per user: the smoothing window
    behind rate/engagement time series. One shuffle on user_id, then
    per-partition sorted streaming frames; deterministic (ts, event_id)
    order makes the 4-element IEEE sum identical on both engines."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("mov_avg")
    )


@query(
    "q68_zscore_outliers",
    """
    WITH stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS ss
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT e.event_type, e.value, s.s / s.n AS mean,
               sqrt((s.ss - s.s * s.s / s.n) / (s.n - 1)) AS std
        FROM events e JOIN stats s USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE abs((value - mean) / std) > 2.0)
                AS BIGINT) AS n_outliers,
           COUNT(*) AS n_total,
           ROUND(COUNT(*) FILTER (WHERE abs((value - mean) / std) > 2.0)
                 * 1.0 / COUNT(*), 6) AS outlier_rate
    FROM z GROUP BY event_type
    """,
)
def q68(spark, sf):
    """Z-score outlier rates per event type. Moments (n, sum, sum-of-squares)
    come from one exact decimal-sum pass — associativity-proof, unlike
    stddev_samp's float partials — then mean/std derive identically on both
    engines. Stats frame is tiny -> broadcast back onto the fact scan: two
    scans, zero wide shuffles beyond the 5-group agg."""
    e = load_table(spark, sf, "events")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("value")).alias("s"),
        dsum(F.col("value") * F.col("value")).alias("ss"),
    )
    z = e.join(F.broadcast(stats), "event_type").select(
        "event_type",
        (
            F.abs(
                (F.col("value") - F.col("s") / F.col("n"))
                / F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1))
            )
            > 2.0
        ).alias("is_outlier"),
    )
    return z.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        F.count("*").alias("n_total"),
        F.round(
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)) / F.count("*"), 6
        ).alias("outlier_rate"),
    )


@query(
    "q69_funnel_full_outer",
    """
    WITH c AS (
        SELECT user_id, COUNT(*) AS n_clicks FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    p AS (
        SELECT user_id, COUNT(*) AS n_purchases FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    f AS (
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               COALESCE(c.n_clicks, 0) AS n_clicks,
               COALESCE(p.n_purchases, 0) AS n_purchases
        FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    )
    SELECT CASE WHEN n_clicks > 0 AND n_purchases > 0 THEN 'both'
                WHEN n_clicks > 0 THEN 'click_only'
                ELSE 'purchase_only' END AS segment,
           COUNT(*) AS n_users,
           CAST(SUM(n_clicks) AS BIGINT) AS total_clicks,
           CAST(SUM(n_purchases) AS BIGINT) AS total_purchases
    FROM f GROUP BY 1
    """,
)
def q69(spark, sf):
    """Funnel reconciliation via FULL OUTER join of two per-user aggregates
    (clicks vs purchases) — the classic activity-overlap segmentation. Both
    sides pre-aggregate before the join, so the full-outer shuffle carries
    one row per user, not per event; same-key (user_id) partitioning is
    reused across agg and join (one exchange, AQE-coalesced)."""
    e = load_table(spark, sf, "events")
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id").agg(F.count("*").alias("n_clicks"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.count("*").alias("n_purchases"))
    )
    f = (
        c.join(p, "user_id", "full_outer")
        .select(
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
            F.coalesce(F.col("n_purchases"), F.lit(0)).alias("n_purchases"),
        )
    )
    seg = (
        F.when((F.col("n_clicks") > 0) & (F.col("n_purchases") > 0), "both")
        .when(F.col("n_clicks") > 0, "click_only")
        .otherwise("purchase_only")
    )
    return f.groupBy(seg.alias("segment")).agg(
        F.count("*").alias("n_users"),
        F.sum("n_clicks").alias("total_clicks"),
        F.sum("n_purchases").alias("total_purchases"),
    )


def _corr_sql(x: str, y: str, name: str) -> str:
    return f"""
        SELECT '{name}' AS pair,
               ROUND((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                   AS corr
        FROM (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND({x}, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(ROUND({y}, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(ROUND({x} * {y}, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(ROUND({x} * {x}, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(ROUND({y} * {y}, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
            FROM lineitem
        )
    """


@query(
    "q70_column_correlations",
    " UNION ALL ".join(
        [
            _corr_sql("l_quantity", "l_extendedprice", "qty_price"),
            _corr_sql("l_extendedprice", "l_discount", "price_discount"),
            _corr_sql("l_quantity", "l_tax", "qty_tax"),
        ]
    ),
)
def q70(spark, sf):
    """Pearson correlation matrix from exact moments: one scan computes all
    five decimal sums per pair (single multi-aggregate pass — Spark's corr()
    uses float partials whose order shifts results; moments are
    associativity-proof). 3 pairs derive from ONE 1-row aggregate, then a
    driver-side literal union — no second scan."""
    li = load_table(spark, sf, "lineitem")

    def moments(x, y):
        return [
            dsum(F.col(x)).alias(f"sx_{x}_{y}"),
            dsum(F.col(y)).alias(f"sy_{x}_{y}"),
            dsum(F.col(x) * F.col(y), 6).alias(f"sxy_{x}_{y}"),
            dsum(F.col(x) * F.col(x), 6).alias(f"sxx_{x}_{y}"),
            dsum(F.col(y) * F.col(y), 6).alias(f"syy_{x}_{y}"),
        ]

    pairs = [
        ("l_quantity", "l_extendedprice", "qty_price"),
        ("l_extendedprice", "l_discount", "price_discount"),
        ("l_quantity", "l_tax", "qty_tax"),
    ]
    aggs = [F.count("*").alias("n")]
    for x, y, _ in pairs:
        aggs += moments(x, y)
    m = li.agg(*aggs)

    def corr_col(x, y, name):
        n = F.col("n")
        sx, sy = F.col(f"sx_{x}_{y}"), F.col(f"sy_{x}_{y}")
        sxy, sxx, syy = (
            F.col(f"sxy_{x}_{y}"), F.col(f"sxx_{x}_{y}"), F.col(f"syy_{x}_{y}")
        )
        return F.struct(
            F.lit(name).alias("pair"),
            F.round(
                (n * sxy - sx * sy)
                / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            ).alias("corr"),
        )

    rows = F.array(*[corr_col(x, y, nm) for x, y, nm in pairs])
    return m.select(F.explode(rows).alias("r")).select("r.pair", "r.corr")


@query(
    "q71_weekday_hour_profile",
    """
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q71(spark, sf):
    """Weekday x hour activity heatmap: calendar-function extraction
    (ISO weekday parity between engines: Spark weekday()+1 == DuckDB isodow)
    feeding a tiny 7x24-group agg — pure map-side combine, the shuffle
    carries at most 168 rows per partition."""
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(
            (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(F.count("*").alias("n_events"), dsum(F.col("value")).alias("total_value"))
    )


@query(
    "q72_rank_function_suite",
    """
    SELECT user_id,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           ROUND(percent_rank() OVER w, 6) AS prnk,
           ROUND(cume_dist() OVER w, 6) AS cdist,
           lead(event_id) OVER w AS next_event_id
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
)
def q72(spark, sf):
    """Full ranking-function suite (rank / dense_rank / percent_rank /
    cume_dist / lead) in ONE window spec — one shuffle on user_id, one
    per-partition sort serves all five functions; deterministic
    (value DESC, event_id) ordering."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return e.select(
        "user_id",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@query(
    "q73_levenshtein_neardup",
    """
    WITH k AS (
        SELECT doc_id, lang, CAST(n_chars / 200 AS BIGINT) AS size_bucket,
               substr(text, 1, 40) AS head
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM k a JOIN k b
      ON a.lang = b.lang AND a.size_bucket = b.size_bucket
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 12
    """,
)
def q73(spark, sf):
    """Edit-distance near-dup candidates with blocking: the O(n^2) distance
    join is confined to (lang, size-bucket) blocks — an equi-join, NOT a
    cross join — so at 100 TB each shuffle bucket holds one block's worth
    of rows and the quadratic term is bounded per block. levenshtein() is
    JVM whole-stage-codegen on both engines."""
    d = load_table(spark, sf, "documents")
    k = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 200).cast("bigint").alias("size_bucket"),
        F.substring("text", 1, 40).alias("head"),
    )
    a, b = k.alias("a"), k.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.size_bucket") == F.col("b.size_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("a.head"), F.col("b.head")).cast("bigint"),
        )
        .filter(F.col("edit_dist") <= 12)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "edit_dist",
        )
    )


@query(
    "q74_time_spine_gapfill",
    """
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
        FROM bounds
    ),
    agg AS (
        SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
        FROM events GROUP BY 1
    )
    SELECT epoch_us(s.hour_ts::TIMESTAMP) AS hour_ts_us, COALESCE(a.n, 0) AS n_events,
           (a.n IS NULL) AS is_gap
    FROM spine s LEFT JOIN agg a ON s.hour_ts = a.hour_ts
    """,
)
def q74(spark, sf):
    """Dense hourly time spine with gap filling: sequence() generates the
    spine from the global min/max (1-row agg), left-joins the hourly
    pre-aggregate, and flags empty hours. Both join sides are hour-count
    sized (the event side is already reduced by its group-by), so the
    pre-agg is broadcast — the only wide shuffle is the hourly agg itself."""
    e = load_table(spark, sf, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    agg = e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(F.broadcast(agg), "hour_ts", "left")
        .select(
            F.unix_micros("hour_ts").alias("hour_ts_us"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


def _pagerank_sql(iterations: int = 5, scale: int = 9) -> str:
    """Unrolled fixed-iteration PageRank: no recursive aggregation needed —
    each iteration is a plain (ranks ⋈ edges) group-by CTE, mirroring
    operators/graph.py::pagerank's decimal-sum determinism contract."""
    step = (
        "pr{k} AS (\n"
        "        SELECT e.dst AS id,\n"
        "               ROUND(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)\n"
        "                     + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(\n"
        "                         ROUND(p.rank / d.deg, {s}) AS DECIMAL(28,{s})))\n"
        "                       AS DOUBLE), {s}) AS rank\n"
        "        FROM pr{j} p JOIN deg d ON p.id = d.id\n"
        "        JOIN edges e ON e.src = p.id\n"
        "        GROUP BY e.dst\n"
        "    )"
    )
    steps = ",\n    ".join(
        step.format(k=i + 1, j=i, s=scale) for i in range(iterations)
    )
    return f"""
    WITH pairs AS MATERIALIZED ({_MH_CAND_SQL}),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE est_jaccard >= 0.5
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE est_jaccard >= 0.5
    ),
    deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (
        SELECT id, ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), {scale}) AS rank
        FROM deg
    ),
    {steps}
    SELECT id AS doc_id, ROUND(rank, 6) AS pagerank FROM pr{iterations}
    """


@query("q75_pagerank_neardup_graph", _pagerank_sql(5))
def q75(spark, sf):
    """PageRank (5 iterations, damping 0.85) over the symmetrized MinHash-
    LSH near-dup graph: ranks the most-connected member of each duplicate
    cluster. Iterative driver loop; per-iteration determinism via round-9 +
    decimal sums lets a non-recursive unrolled-CTE oracle reproduce it
    exactly. Edges are cached and hash-partitioned once; only the
    nodes-sized rank table moves each iteration."""
    from ocr_vector_db_spark.operators.graph import pagerank

    d = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, n=2, text_col="text", id_col="doc_id"
    ).filter(F.col("est_jaccard") >= 0.5)
    # materialize the LSH pipeline once: both union branches and every
    # pagerank iteration read the tiny pair list, not the shingle join
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    pr = pagerank(edges, iterations=5)
    return pr.select(
        F.col("id").alias("doc_id"), F.round("rank", 6).alias("pagerank")
    )


def _pagerank_dangling_sql(iterations: int = 5, scale: int = 9) -> str:
    """Unrolled PageRank WITH dangling-mass redistribution: the DIRECTED
    (doc_a → doc_b) near-dup pairs leave every max-id-only node with
    out-degree 0; each iteration their decimal-summed rank is shared to
    the whole node universe as share = dangling_mass/n, mirroring
    graph.py::pagerank(dangling='redistribute') float-op for float-op."""
    s = scale
    step = (
        "dm{j} AS (\n"
        "        SELECT ROUND(COALESCE(CAST(SUM(CAST(p.rank AS\n"
        "                   DECIMAL(28,{s}))) AS DOUBLE), CAST(0.0 AS DOUBLE))\n"
        "                 / (SELECT n FROM nn), {s}) AS share\n"
        "        FROM pr{j} p LEFT JOIN deg d ON p.id = d.id\n"
        "        WHERE d.id IS NULL\n"
        "    ),\n"
        "    pr{k} AS (\n"
        "        SELECT nd.id,\n"
        "               ROUND(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)\n"
        "                     + CAST(0.85 AS DOUBLE)\n"
        "                       * (COALESCE(agg.s, CAST(0.0 AS DOUBLE))\n"
        "                          + (SELECT share FROM dm{j})), {s}) AS rank\n"
        "        FROM nodes nd LEFT JOIN (\n"
        "            SELECT e.dst AS id,\n"
        "                   CAST(SUM(CAST(ROUND(p.rank / d.deg, {s})\n"
        "                       AS DECIMAL(28,{s}))) AS DOUBLE) AS s\n"
        "            FROM pr{j} p JOIN deg d ON p.id = d.id\n"
        "            JOIN edges e ON e.src = p.id\n"
        "            GROUP BY e.dst\n"
        "        ) agg ON nd.id = agg.id\n"
        "    )"
    )
    steps = ",\n    ".join(
        step.format(k=i + 1, j=i, s=s) for i in range(iterations)
    )
    return f"""
    WITH pairs AS MATERIALIZED ({_MH_CAND_SQL}),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE est_jaccard >= 0.5
    ),
    deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS MATERIALIZED (
        SELECT DISTINCT id FROM (
            SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
        )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (
        SELECT id, ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), {s}) AS rank
        FROM nodes
    ),
    {steps}
    SELECT id AS doc_id, ROUND(rank, 6) AS pagerank FROM pr{iterations}
    """


@query("q113_pagerank_dangling_redistribute", _pagerank_dangling_sql(5))
def q113(spark, sf):
    """q75's PageRank on the DIRECTED (unsymmetrized) near-dup pair list —
    every node that only ever appears as doc_b has out-degree 0, so this
    exercises `pagerank(dangling='redistribute')`: per iteration the
    dangling nodes' decimal-summed rank is spread to every node as
    dangling_mass/n (Brin & Page's handling), keeping total mass at ~1
    instead of leaking it. The default mode refuses dangling graphs
    loudly (unit-tested); this query pins the redistribution arithmetic
    to a 5-iteration unrolled-CTE oracle. Scale shape: unchanged from
    q75 — the dangling share is a 1-row aggregate crossJoined broadcast,
    no extra wide shuffle per iteration."""
    from ocr_vector_db_spark.operators.graph import pagerank
    from ocr_vector_db_spark.plans.families.core import neardup_pair_index

    # pairs served from the session's persisted NearDupPairIndex
    # (optimization r16): candidate generation is the stored build/add
    # artifact; the uncollapsed expansion (member-map joins) and all five
    # PageRank iterations execute per call. The expanded pair set is
    # row-identical to minhash_lsh_candidates (index-suite regression).
    pairs = neardup_pair_index(spark, sf).candidate_pairs().filter(
        F.col("est_jaccard") >= 0.5
    )
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    pr = pagerank(edges, iterations=5, dangling="redistribute")
    return pr.select(
        F.col("id").alias("doc_id"), F.round("rank", 6).alias("pagerank")
    )


def _zorder_sql() -> str:
    from ocr_vector_db_spark.operators.layout import bucketize_expr, morton_expr

    xb = bucketize_expr(
        "l_quantity",
        "(SELECT MIN(l_quantity) FROM lineitem)",
        "(SELECT MAX(l_quantity) FROM lineitem)",
    )
    yb = bucketize_expr(
        "l_extendedprice",
        "(SELECT MIN(l_extendedprice) FROM lineitem)",
        "(SELECT MAX(l_extendedprice) FROM lineitem)",
    )
    z = morton_expr(xb, yb)
    return f"""
    WITH keyed AS (SELECT l_quantity, l_extendedprice, {z} AS z_key FROM lineitem)
    SELECT CAST(FLOOR(z_key / 4096.0) AS BIGINT) AS z_tile,
           COUNT(*) AS n,
           ROUND(MIN(l_quantity), 6) AS min_qty, ROUND(MAX(l_quantity), 6) AS max_qty,
           ROUND(MIN(l_extendedprice), 6) AS min_price,
           ROUND(MAX(l_extendedprice), 6) AS max_price
    FROM keyed GROUP BY 1
    """


@query("q76_zorder_tiles", _zorder_sql())
def q76(spark, sf):
    """Z-order (Morton) layout keys over (l_quantity, l_extendedprice),
    aggregated per 4096-key tile: each tile's min/max spans a narrow window
    of BOTH columns — the file-statistics pruning this layout buys at 100 TB
    (write path: operators/layout.py::write_zordered, range-partitioned +
    sorted by z_key). Key arithmetic is the same shifts/ands expression
    string Spark and DuckDB both compile."""
    from ocr_vector_db_spark.operators.layout import zorder_key

    li = load_table(spark, sf, "lineitem")
    r = li.agg(
        F.min("l_quantity"), F.max("l_quantity"),
        F.min("l_extendedprice"), F.max("l_extendedprice"),
    ).head()
    bounds = {
        "l_quantity": (float(r[0]), float(r[1])),
        "l_extendedprice": (float(r[2]), float(r[3])),
    }
    keyed = zorder_key(li, "l_quantity", "l_extendedprice", bounds=bounds)
    return (
        keyed.groupBy(F.floor(F.col("z_key") / 4096.0).cast("bigint").alias("z_tile"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_quantity"), 6).alias("min_qty"),
            F.round(F.max("l_quantity"), 6).alias("max_qty"),
            F.round(F.min("l_extendedprice"), 6).alias("min_price"),
            F.round(F.max("l_extendedprice"), 6).alias("max_price"),
        )
    )


@query(
    "q77_grouping_sets",
    """
    SELECT event_type,
           CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(GROUPING(event_type, isodow(ts)) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, isodow(ts)), (event_type), (isodow(ts)), ())
    """,
)
def q77(spark, sf):
    """Explicit GROUPING SETS (finer than q40's rollup / q48's cube): four
    simultaneous granularities in ONE pass — Spark expands the sets during
    partial aggregation, so the scan happens once and the shuffle carries
    per-set group partials; grouping_id disambiguates the NULL-keyed
    subtotal rows exactly as GROUPING() does in the oracle."""
    e = load_table(spark, sf, "events").select(
        "event_type",
        (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow"),
        "value",
    )
    return (
        e.groupingSets(
            [["event_type", "dow"], ["event_type"], ["dow"], []],
            "event_type",
            "dow",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select("event_type", "dow", "gid", "n", "total_value")
    )


@query(
    "q78_from_json_struct",
    """
    SELECT CAST(FLOOR(CAST(props->>'$.k' AS INTEGER) / 10.0) AS BIGINT) AS k_bucket,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_value
    FROM events
    WHERE CAST(props->>'$.k' AS INTEGER) >= 20
    GROUP BY 1
    """,
)
def q78(spark, sf):
    """Schema-projected JSON parse: from_json with an explicit struct schema
    (vs q31's per-path get_json_object) — one parse materializes every
    needed field, the struct is pruned by Catalyst (OptimizeJsonExprs
    collapses unused fields), and the nested value feeds filter + bucket +
    agg entirely in codegen."""
    e = load_table(spark, sf, "events")
    parsed = e.select(
        F.from_json("props", "k INT").alias("p"), "value"
    ).filter(F.col("p.k") >= 20)
    return (
        parsed.groupBy(
            F.floor(F.col("p.k") / 10.0).cast("bigint").alias("k_bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(dsum(F.col("value")) / F.count("*"), 6).alias("avg_value"),
        )
    )


@query(
    "q79_array_hof_suite",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0.1)) AS BIGINT)
               AS n_above,
           ROUND(list_max(embedding::DOUBLE[]), 6) AS max_val,
           ROUND(list_min(embedding::DOUBLE[]), 6) AS min_val,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """,
)
def q79(spark, sf):
    """Array higher-order-function suite over the embedding column: filter
    (predicate HOF), array_max/min, size — all JVM codegen expressions, the
    per-element work never leaves the scan stage (the pattern the vector
    functions build on: functions/vector.py)."""
    e = load_table(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0.1)).cast("bigint").alias("n_above"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
        F.size("embedding").cast("bigint").alias("dim"),
    )


@query(
    "q80_interval_range_window",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch(ts)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS events_last_hour
    FROM events
    """,
)
def q80(spark, sf):
    """Time-interval RANGE window: per event, how many events the same user
    fired in the trailing hour — the rate-limit / burst-detection primitive.
    RANGE frames bound by VALUE (epoch seconds), not row count, so ties and
    gaps are handled exactly; one shuffle on user_id, then sorted streaming
    with a sliding frame pointer (O(n) per partition, no per-row rescan)."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("events_last_hour"),
    )


@query(
    "q81_ordered_string_agg",
    """
    SELECT lang,
           string_agg(source, ',' ORDER BY doc_id) AS sources,
           COUNT(*) AS n
    FROM (
        SELECT lang, doc_id, source,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
        FROM documents
    ) WHERE rk <= 5
    GROUP BY lang
    """,
)
def q81(spark, sf):
    """Deterministic ordered string aggregation (string_agg ... ORDER BY):
    top-5 doc sources per language concatenated in id order. Spark composes
    it from collect_list(struct) + array_sort + transform + concat_ws — the
    collect stays bounded (5 rows/group) because the window filter runs
    FIRST; an unbounded listagg over a hot group is the thing to avoid at
    scale."""
    d = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    top = d.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
    pairs = F.array_sort(F.collect_list(F.struct("doc_id", "source")))
    return top.groupBy("lang").agg(
        F.concat_ws(",", F.transform(pairs, lambda x: x.source)).alias("sources"),
        F.count("*").alias("n"),
    )


@query(
    "q82_unigram_cross_entropy",
    r"""
    WITH tk AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    vocab AS MATERIALIZED (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM tk),
    scored AS (
        SELECT t.doc_id,
               ROUND(-ln(CAST(v.cnt AS DOUBLE) / n.n), 6) AS nlp
        FROM tk t JOIN vocab v USING (tok) CROSS JOIN n
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(CAST(nlp AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
               AS avg_neg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q82(spark, sf):
    """Unigram cross-entropy per document (CCNet-style perplexity filter):
    fit the corpus unigram LM in one token agg, broadcast the vocabulary
    (Heaps'-law sized) back onto the token stream, and average -ln p(tok)
    per doc. Low entropy ≈ boilerplate/repetition, high ≈ noise — the
    standard mid-band keep rule for training data. Two shuffles total
    (vocab agg, per-doc agg); the LM join is broadcast, the token stream is
    never re-shuffled."""
    d = load_table(spark, sf, "documents")
    tk = (
        d.select(
            "doc_id", F.explode(tokens_of(F.col("text"))).alias("tok")
        )
    )
    vocab = tk.groupBy("tok").agg(F.count("*").alias("cnt")).cache()
    # total tokens from the (vocab-sized, cached) counts — avoids a second
    # full tokenization pass over the corpus just for the scalar
    n = vocab.agg(F.sum("cnt")).head()[0]
    scored = tk.join(F.broadcast(vocab), "tok").select(
        "doc_id",
        F.round(-F.log(F.col("cnt").cast("double") / F.lit(n)), 6).alias("nlp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum(F.col("nlp").cast("decimal(28,6)")).cast("double") / F.count("*"),
            6,
        ).alias("avg_neg_logprob"),
    )


@query(
    "q83_scd2_versioning",
    """
    SELECT user_id, event_type AS state,
           epoch_us(ts::TIMESTAMP) AS valid_from_us,
           epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               ::TIMESTAMP) AS valid_to_us,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL) AS is_current
    FROM events
    """,
)
def q83(spark, sf):
    """Slowly-changing-dimension (type 2) versioning: each user's event
    stream becomes contiguous validity intervals — valid_from = change ts,
    valid_to = next change (NULL ⇒ current row). One shuffle on the entity
    key, then lead() over the sorted partition; the as-of join (q41) is the
    read-side companion for point-in-time lookups against this shape."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q84_readability_stats",
    r"""
    WITH s AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '[.!?]+'),
                               x -> trim(x) <> '')) AS n_sentences,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '')) AS n_words,
               length(replace(text, ' ', '')) AS n_nonspace_chars
        FROM documents
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(CASE WHEN n_sentences > 0
                      THEN CAST(n_words AS DOUBLE) / n_sentences END, 6)
               AS words_per_sentence,
           ROUND(CASE WHEN n_words > 0
                      THEN CAST(n_nonspace_chars AS DOUBLE) / n_words END, 6)
               AS chars_per_word
    FROM s
    """,
)
def q84(spark, sf):
    """Readability / surface statistics per document (sentence length, word
    length) — the cheap quality signals next to q24's composite score. Pure
    per-row string expressions: map-only, zero shuffles, whole-stage
    codegen; the CASE guards keep ANSI division safe on degenerate docs."""
    d = load_table(spark, sf, "documents")
    n_sent = F.size(
        F.filter(
            F.split("text", r"[.!?]+"), lambda x: F.trim(x) != ""
        )
    )
    n_words = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    n_chars = F.length(F.regexp_replace("text", " ", ""))
    return d.select(
        "doc_id",
        n_sent.cast("bigint").alias("n_sentences"),
        n_words.cast("bigint").alias("n_words"),
        F.round(
            F.when(n_sent > 0, n_words.cast("double") / n_sent), 6
        ).alias("words_per_sentence"),
        F.round(
            F.when(n_words > 0, n_chars.cast("double") / n_words), 6
        ).alias("chars_per_word"),
    )


@query(
    "q85_temperature_source_remix",
    """
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n FROM counts),
    weighted AS (
        SELECT source, n, total_n,
               ROUND(POW(CAST(n AS DOUBLE) / total_n, 0.7), 6) AS w
        FROM counts CROSS JOIN tot
    ),
    z AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS Z FROM weighted),
    rates AS (
        SELECT source, n,
               ROUND(LEAST(CAST(1.0 AS DOUBLE),
                           CAST(0.5 AS DOUBLE) * total_n * w / Z / n), 6) AS rate
        FROM weighted CROSS JOIN z
    ),
    kept AS (
        SELECT d.source
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              / CAST(4294967296.0 AS DOUBLE) < r.rate
    )
    SELECT r.source, r.n AS n_orig, k.n_kept, r.rate
    FROM rates r JOIN (SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source) k
      ON r.source = k.source
    """,
)
def q85(spark, sf):
    """Temperature-based source re-mixing (alpha=0.7, half-corpus budget):
    the training-mix construction step — up-weight tail sources, cap head
    sources, then keep rows by a DETERMINISTIC md5-uniform draw against each
    source's rate (a pure function of the row key: stable across engines,
    re-runs, repartitions — q57's split-integrity property, with data-driven
    rates). Rate computation touches only the source dimension (tiny);
    the corpus pays one broadcast join + map-side filter, no shuffle."""
    d = load_table(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("total_n"))
    weighted = counts.crossJoin(F.broadcast(tot)).withColumn(
        "w", F.round(F.pow(F.col("n").cast("double") / F.col("total_n"), 0.7), 6)
    )
    z = weighted.agg(
        F.sum(F.col("w").cast("decimal(28,6)")).cast("double").alias("Z")
    )
    rates = weighted.crossJoin(F.broadcast(z)).withColumn(
        "rate",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(0.5) * F.col("total_n") * F.col("w") / F.col("Z") / F.col("n"),
            ),
            6,
        ),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") / F.lit(4294967296.0)
    )
    kept = (
        d.join(F.broadcast(rates.select("source", "rate")), "source")
        .filter(u < F.col("rate"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.select("source", F.col("n").alias("n_orig"), "rate")
        .join(kept, "source")
        .select("source", "n_orig", "n_kept", "rate")
    )




# =====================================================================
# Round-9 batch 2: persisted cardinality sketches
# =====================================================================


@query(
    "q128_hll_vocab_sketch",
    """
    WITH tk AS (
        SELECT tok FROM (
            SELECT unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    hx AS (
        SELECT substr(md5(tok), 1, 2) AS bh,
               substr(md5(tok), 3, 14) AS rest
        FROM tk
    ),
    rr AS (
        SELECT (strpos('0123456789abcdef', bh[1]) - 1) * 16
               + (strpos('0123456789abcdef', bh[2]) - 1) AS bucket,
               regexp_replace(rest, '^0+', '') AS trimmed
        FROM hx
    ),
    rho AS (
        SELECT bucket,
               CASE WHEN trimmed = '' THEN 57
                    ELSE (14 - length(trimmed)) * 4
                         + CASE WHEN substr(trimmed, 1, 1) = '1' THEN 3
                                WHEN substr(trimmed, 1, 1) IN ('2','3') THEN 2
                                WHEN substr(trimmed, 1, 1)
                                     IN ('4','5','6','7') THEN 1
                                ELSE 0 END + 1
               END AS rho
        FROM rr
    ),
    regs AS (
        SELECT bucket, CAST(MAX(rho) AS INT) AS r FROM rho GROUP BY bucket
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_filled,
               COALESCE(SUM(CAST(POWER(2.0, 57 - r) AS DECIMAL(38,0))),
                        CAST(0 AS DECIMAL(38,0))) AS zn,
               md5(COALESCE(string_agg(
                   lpad(CAST(bucket AS VARCHAR), 5, '0') || ':'
                       || CAST(r AS VARCHAR),
                   ',' ORDER BY bucket), '')) AS reg_digest
        FROM regs
    ),
    f AS (
        SELECT CAST(256 AS INT) AS m,
               CAST(256 - n_filled AS BIGINT) AS v,
               CAST(zn + CAST(256 - n_filled AS DECIMAL(38,0))
                    * CAST(POWER(2.0, 57) AS DECIMAL(38,0))
                    AS DECIMAL(38,0)) AS z,
               reg_digest
        FROM s
    )
    SELECT m, v, CAST(z AS VARCHAR) AS z_scaled,
           ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                           * POWER(2.0, 57) / CAST(z AS DOUBLE)
                           <= 2.5 * 256.0 AND v > 0
                      THEN 256.0 * LN(256.0 / v)
                      ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                           * POWER(2.0, 57) / CAST(z AS DOUBLE) END,
                 6) AS est,
           reg_digest
    FROM f
    """,
)
def q128(spark, sf):
    """Persisted HyperLogLog vocabulary sketch (operators/sketches.py):
    distinct-token cardinality as m=256 integer registers — built on a
    QUARTER of the corpus, folded forward twice with `add` (per-bucket
    MAX, generation-pointer swap) and once with `merge` from a sibling
    sketch, then summarized. The oracle computes the registers from
    SCRATCH over the whole corpus with the same md5-hex arithmetic, so
    hash-matching proves build+add+merge ≡ one global pass bit-for-bit
    (registers digest, empty-register count, exact scaled harmonic sum)
    — the sketch property that lets 100-TB vocabulary monitoring run as
    per-epoch O(m) folds instead of a corpus-wide COUNT(DISTINCT).
    Reference parity: repository.py's COUNT(DISTINCT …) stat surface,
    re-expressed as the sketch a warehouse-scale pipeline needs."""
    from ocr_vector_db_spark.operators.sketches import HLLSketch

    d = load_table(spark, sf, "documents")
    tok = (
        d.select(F.explode(tokens_of(F.col("text"))).alias("tok"))
    )

    def build():
        path = session_tempdir("hll_")
        sk = HLLSketch.build(
            spark, tok.filter(F.crc32(F.col("tok")) % 4 == 0), path,
            F.col("tok"), p=8,
        )
        sk.add(tok.filter(F.crc32(F.col("tok")) % 4 == 1), F.col("tok"))
        sk.add(tok.filter(F.crc32(F.col("tok")) % 4 == 2), F.col("tok"))
        other = HLLSketch.build(
            spark, tok.filter(F.crc32(F.col("tok")) % 4 == 3),
            session_tempdir("hll_"), F.col("tok"), p=8,
        )
        sk.merge(other)
        return path

    path = session_memo(spark, sf, "q128_hll_path", build)
    return HLLSketch.load(spark, path).summary()


@query(
    "q129_kmv_vocab_overlap",
    """
    WITH toks AS (
        SELECT source,
               list_filter(string_split_regex(lower(text), '[^a-z0-9가-힣]+'),
                           t -> t <> '') AS tk
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    bg AS (
        SELECT source,
               struct_extract(u.p, 1) || ' ' || struct_extract(u.p, 2) AS b
        FROM toks, LATERAL unnest(list_zip(tk[1:len(tk)-1], tk[2:])) AS u(p)
    ),
    ka AS (
        SELECT DISTINCT md5(b) AS h FROM bg WHERE source = 'src0'
        ORDER BY h LIMIT 128
    ),
    kb AS (
        SELECT DISTINCT md5(b) AS h FROM bg WHERE source = 'src1'
        ORDER BY h LIMIT 128
    ),
    km AS (
        SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
        ORDER BY h LIMIT 128
    ),
    s AS (
        SELECT (SELECT COUNT(*) FROM ka) AS n_a,
               (SELECT COUNT(*) FROM kb) AS n_b,
               (SELECT COUNT(*) FROM km) AS n_union,
               (SELECT MAX(h) FROM km) AS kth_hex,
               (SELECT COUNT(*) FROM km
                WHERE h IN (SELECT h FROM ka)
                  AND h IN (SELECT h FROM kb)) AS inter_cnt
    )
    SELECT CAST(128 AS INT) AS k,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_union AS BIGINT) AS n_union, kth_hex,
           ROUND(CASE WHEN n_union < 128 THEN CAST(n_union AS DOUBLE)
                 ELSE CAST(127 AS DOUBLE) * POWER(2.0, 52)
                      / CAST(('0x' || substr(kth_hex, 1, 13))::BIGINT
                             AS DOUBLE) END, 6) AS union_est,
           CAST(inter_cnt AS BIGINT) AS inter_cnt,
           ROUND(CAST(inter_cnt AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
               AS jaccard,
           ROUND((CAST(inter_cnt AS DOUBLE) / CAST(n_union AS DOUBLE))
                 * (CASE WHEN n_union < 128 THEN CAST(n_union AS DOUBLE)
                    ELSE CAST(127 AS DOUBLE) * POWER(2.0, 52)
                         / CAST(('0x' || substr(kth_hex, 1, 13))::BIGINT
                                AS DOUBLE) END), 6) AS inter_est
    FROM s
    """,
)
def q129(spark, sf):
    """KMV set-relation sketches (operators/sketches.py::KMVSketch): how
    much does src0's bigram vocabulary overlap src1's — union size,
    intersection size, Jaccard — answered from two persisted 128-row
    minima tables, never joining the corpora. Each sketch is built
    INCREMENTALLY (build on half the source's docs, `add` the rest: the
    min-k fold is associative/idempotent), and the relation estimates
    are joins over two ≤ k-row tables. The oracle recomputes both
    sketches from scratch over the full sources, so hash-matching
    proves build+add ≡ one global pass AND pins the estimator algebra
    (exact-below-k regime, 52-bit theta, Beyer et al. intersection
    scaling) bit-for-bit. This is the cross-collection contamination /
    overlap monitor a 100-TB multi-source pipeline runs per epoch at
    O(k) cost."""
    from ocr_vector_db_spark.operators.ngram_lm import adjacent_bigrams
    from ocr_vector_db_spark.operators.sketches import (
        KMVSketch, kmv_set_relations,
    )

    d = load_table(spark, sf, "documents")

    def build():
        paths = {}
        for src in ("src0", "src1"):
            docs = d.filter(F.col("source") == src)
            bgs = adjacent_bigrams(docs).select(
                "doc_id",
                F.concat_ws(" ", "tok_a", "tok_b").alias("b"),
            )
            path = session_tempdir(f"kmv_{src}_")
            sk = KMVSketch.build(
                spark, bgs.filter(F.col("doc_id") % 2 == 0), path,
                F.col("b"), k=128,
            )
            sk.add(bgs.filter(F.col("doc_id") % 2 == 1), F.col("b"))
            paths[src] = path
        return paths

    paths = session_memo(spark, sf, "q129_kmv_paths", build)
    return kmv_set_relations(
        KMVSketch.load(spark, paths["src0"]),
        KMVSketch.load(spark, paths["src1"]),
    )


_BPE_N_MERGES = 20


def _bpe_stages_sql(n_merges: int) -> str:
    """DuckDB replay of operators/bpe.py's training loop, stage-unrolled:
    w0 is the weighted word table in delimited symbol form; each stage
    computes pair counts over w{i-1}, takes the deterministic argmax
    (count DESC, la, lb), and applies the merge as the SAME literal
    global replace the Spark side uses."""
    head = r"""tk AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS w
        FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS cnt FROM tk WHERE w <> '' GROUP BY w),
    w0 AS MATERIALIZED (
        SELECT w,
               '<' || array_to_string(string_split(w, ''), '><') || '><_>'
                   AS sym,
               cnt
        FROM wc
    )"""
    stages = []
    for i in range(1, n_merges + 1):
        stages.append(f"""
    p{i} AS (
        SELECT struct_extract(u.p, 1) AS la, struct_extract(u.p, 2) AS lb,
               SUM(cnt) AS c
        FROM (SELECT cnt, regexp_extract_all(sym, '<([^<>]+)>', 1) AS a
              FROM w{i - 1}),
             LATERAL unnest(list_zip(a[1:len(a)-1], a[2:])) AS u(p)
        GROUP BY la, lb
    ),
    m{i} AS MATERIALIZED (
        SELECT la, lb, c FROM p{i} ORDER BY c DESC, la, lb LIMIT 1),
    w{i} AS MATERIALIZED (
        SELECT w.w,
               replace(w.sym, '<' || m.la || '><' || m.lb || '>',
                       '<' || m.la || m.lb || '>') AS sym,
               w.cnt
        FROM w{i - 1} w CROSS JOIN m{i} m
    )""")
    return head + "," + ",".join(stages)


def _bpe_train_sql(n_merges: int) -> str:
    union = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({i} AS INT) AS step, la, lb,"
        f" CAST(c AS BIGINT) AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_stages_sql(n_merges)}\n    {union}"


def _bpe_merges(spark, sf):
    from ocr_vector_db_spark.operators.bpe import bpe_train

    def build():
        d = load_table(spark, sf, "documents")
        merges, _vocab = bpe_train(d, _BPE_N_MERGES)
        return merges

    return session_memo(spark, sf, "q132_bpe_merges", build)


@query("q132_bpe_train_merges", _bpe_train_sql(_BPE_N_MERGES))
def q132(spark, sf):
    """BPE tokenizer TRAINING (Sennrich et al. 2016) — the full iterative
    merge-learning loop, not q95's single pair-count round. One corpus
    pass builds the weighted word table (Heaps-sized); each of the 20
    merges is then a vocabulary-sized aggregation whose single argmax
    row is the only driver traffic, plus a literal-replace map on the
    delimited symbol form (canonical leftmost non-overlapping
    application — operators/bpe.py documents the representation trick).
    The oracle replays the loop stage-by-stage in SQL: the learned merge
    table must be a pure function of the corpus, byte-identical across
    engines — ties broken (count DESC, left, right)."""
    from ocr_vector_db_spark.operators.bpe import merges_df

    return merges_df(spark, _bpe_merges(spark, sf))


@query(
    "q133_bpe_segment_counts",
    f"""
    WITH {_bpe_stages_sql(_BPE_N_MERGES)},
    seg AS (
        SELECT w, len(regexp_extract_all(sym, '<([^<>]+)>', 1)) AS n_sym
        FROM w{_BPE_N_MERGES}
    ),
    dw AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS w
        FROM documents
    ),
    occ AS (
        SELECT doc_id, w, COUNT(*) AS occ FROM dw WHERE w <> ''
        GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(occ) AS BIGINT) AS n_words,
           CAST(SUM(occ * n_sym) AS BIGINT) AS n_bpe_tokens
    FROM occ JOIN seg USING (w)
    GROUP BY doc_id
    """,
)
def q133(spark, sf):
    """Segment the corpus with the q132-trained merge table: per doc,
    word count and BPE token count — the tokenizer-aware length signal
    training pipelines budget sequences by (q91's packer consumes
    exactly this). The chained merge replaces run once per DISTINCT
    word (broadcast vocabulary) and join back onto per-doc occurrence
    counts; the oracle re-trains AND re-segments from scratch, so the
    whole train→apply path must match bit-for-bit."""
    from ocr_vector_db_spark.operators.bpe import bpe_token_counts

    d = load_table(spark, sf, "documents")
    return bpe_token_counts(d, _bpe_merges(spark, sf))


_Q134_BUDGET = 512


@query(
    "q134_bpe_budget_packing",
    f"""
    WITH {{bpe_stages}},
    seg AS (
        SELECT w, len(regexp_extract_all(sym, '<([^<>]+)>', 1)) AS n_sym
        FROM w{_BPE_N_MERGES}
    ),
    dw AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS w
        FROM documents
    ),
    occ AS (
        SELECT doc_id, lang, w, COUNT(*) AS occ FROM dw WHERE w <> ''
        GROUP BY doc_id, lang, w
    ),
    tokc AS (
        SELECT doc_id, lang, CAST(SUM(occ * n_sym) AS BIGINT) AS tokens
        FROM occ JOIN seg USING (w)
        GROUP BY doc_id, lang
    ),
    t AS (
        SELECT lang || '#' || CAST(
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 4 AS VARCHAR) AS shard,
               doc_id, tokens
        FROM tokc
    ),
    c AS (
        SELECT shard, doc_id, tokens,
               SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
        FROM t
    ),
    p AS (
        SELECT shard, tokens,
               CAST(floor((cum_tokens - tokens) / {_Q134_BUDGET}.0) AS BIGINT)
                   AS pack_id
        FROM c
    )
    SELECT shard, pack_id, COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS pack_tokens,
           ROUND(SUM(tokens) / {_Q134_BUDGET}.0, 6) AS fill_ratio
    FROM p GROUP BY shard, pack_id
    """.replace("{bpe_stages}", _bpe_stages_sql(_BPE_N_MERGES)),
)
def q134(spark, sf):
    """The q91 packer driven by the TRAINED tokenizer: per-doc BPE token
    counts from the q132 merge table replace whitespace counts, so pack
    budgets mean what the trainer's context window means. Token counting
    is the q133 plan (distinct-word merge chain, broadcast back onto
    occurrence counts); packing stays the one per-shard prefix-sum window
    + hash rollup with the md5 sub-shard salt. The oracle re-trains,
    re-segments AND re-packs from scratch — the full
    train→tokenize→pack chain must match bit-for-bit."""
    from ocr_vector_db_spark.operators import packing
    from ocr_vector_db_spark.operators.bpe import bpe_token_counts

    d = load_table(spark, sf, "documents")
    tok = bpe_token_counts(d, _bpe_merges(spark, sf))
    docs = d.select("doc_id", "lang").join(tok, "doc_id")
    packed = packing.pack_documents(
        docs, budget=_Q134_BUDGET, shard_col="lang", sub_shards=4,
        tokens=F.col("n_bpe_tokens"),
    )
    return packing.pack_stats(packed, budget=_Q134_BUDGET)


@query("q136_bpe_tokenizer_extend", _bpe_train_sql(_BPE_N_MERGES))
def q136(spark, sf):
    """Resumable tokenizer training from the persisted artifact
    (operators/bpe.py::BPETokenizer): build() learns the first half of
    the merge table and persists {merges, vocab} under ONE generation
    marker; extend() learns the second half from the STORED vocabulary —
    zero corpus scans — and must land on a merge table byte-identical to
    training all 20 in one run (the oracle replays the full loop from
    scratch in SQL). This is the 'train 10k merges today, extend to 30k
    tomorrow' path: resume cost is vocab-sized, corpus-free."""
    from ocr_vector_db_spark.operators.bpe import BPETokenizer

    def build():
        d = load_table(spark, sf, "documents")
        path = session_tempdir("bpetok_")
        tok = BPETokenizer.build(spark, d, path, _BPE_N_MERGES // 2)
        tok.extend(_BPE_N_MERGES - _BPE_N_MERGES // 2)
        return path

    path = session_memo(spark, sf, "q136_tok_path", build)
    return BPETokenizer.load(spark, path).merges_frame()


@query(
    "q137_psi_drift",
    """
    WITH base AS (
        SELECT (doc_id % 2 = 0) AS a, CAST(n_chars AS BIGINT) AS v
        FROM documents WHERE n_chars IS NOT NULL
    ),
    ext AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM base),
    binned AS (
        SELECT a, CAST(((v - mn) * 10) // (mx - mn + 1) AS INT) AS bin
        FROM base CROSS JOIN ext
    ),
    hist AS (
        SELECT bin,
               SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN a THEN 0 ELSE 1 END) AS cb
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM hist),
    terms AS (
        SELECT na, nb,
               ROUND((pa - pb) * ln(pa / pb), 9) AS term,
               ROUND((pa * ln(pa / ((pa + pb) / 2.0))
                      + pb * ln(pb / ((pa + pb) / 2.0))) / 2.0, 9)
                   AS jsd_term
        FROM (
            SELECT na, nb,
                   (ca + 0.5) / (na + 5.0) AS pa,
                   (cb + 0.5) / (nb + 5.0) AS pb
            FROM hist CROSS JOIN tot
        )
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b, CAST(10 AS INT) AS n_bins,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS psi,
           ROUND(CAST(SUM(CAST(jsd_term AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS jsd
    FROM terms
    """,
)
def q137(spark, sf):
    """Population Stability Index + Jensen-Shannon divergence between
    two corpus epochs (even vs odd doc_id as the deterministic epoch
    split): the release-gate drift monitor a training pipeline runs on
    every ingest — "did this batch's length/quality distribution
    shift?". All-integer shared binning ((v−min)·B div (max−min+1)),
    Laplace-smoothed probabilities, exact decimal term sums —
    bit-portable across engines; JSD is the bounded/symmetric companion
    (≤ ln 2) for when near-empty bins blow PSI's log-ratio up. One
    corpus pass for min/max, one map-side-combinable (bin) count agg,
    both divergences fold on the 10-row histogram. See
    operators/drift.py."""
    from ocr_vector_db_spark.operators.drift import psi_report

    d = load_table(spark, sf, "documents")
    return psi_report(d, (F.col("doc_id") % 2 == 0), "n_chars", bins=10)


@query(
    "q138_psi_drift_baseline",
    """
    WITH basec AS (
        SELECT CAST(n_chars AS BIGINT) AS v FROM documents
        WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
    ),
    ext AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM basec),
    ha AS (
        SELECT CAST(((v - mn) * 10) // (mx - mn + 1) AS INT) AS bin,
               COUNT(*) AS ca
        FROM basec CROSS JOIN ext GROUP BY 1
    ),
    batch AS (
        SELECT CAST(n_chars AS BIGINT) AS v FROM documents
        WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
    ),
    hb AS (
        SELECT LEAST(GREATEST(
                   CAST(((v - mn) * 10) // (mx - mn + 1) AS INT), 0), 9)
                   AS bin,
               COUNT(*) AS cb
        FROM batch CROSS JOIN ext GROUP BY 1
    ),
    bins AS (SELECT CAST(u AS INT) AS bin
             FROM unnest(range(0, 10)) AS t(u)),
    hist AS (
        SELECT bin, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)
    ),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM hist),
    terms AS (
        SELECT na, nb, ROUND((pa - pb) * ln(pa / pb), 9) AS term
        FROM (
            SELECT na, nb,
                   (ca + 0.5) / (na + 5.0) AS pa,
                   (cb + 0.5) / (nb + 5.0) AS pb
            FROM hist CROSS JOIN tot
        )
    )
    SELECT MAX(na) AS n_base, MAX(nb) AS n_batch, CAST(10 AS INT) AS n_bins,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS psi
    FROM terms
    """,
)
def q138(spark, sf):
    """The PSI gate in its PRODUCTION shape (operators/drift.py::
    DriftBaseline): the historical corpus (even doc_ids) is summarized
    once into a persisted frozen-bin histogram under a generation
    pointer, and the incoming batch (odd doc_ids) screens against it at
    O(batch + B) — no historical rescan, out-of-range values clamp into
    the edge bins, empty bins participate through Laplace smoothing. The
    oracle recomputes baseline + screen from raw data, so the persisted
    path must be bit-identical to the from-scratch formulation."""
    from ocr_vector_db_spark.operators.drift import DriftBaseline

    d = load_table(spark, sf, "documents")

    def build():
        path = session_tempdir("driftbl_")
        DriftBaseline.build(
            spark, d.filter(F.col("doc_id") % 2 == 0), "n_chars", path,
            bins=10,
        )
        return path

    path = session_memo(spark, sf, "q138_baseline_path", build)
    bl = DriftBaseline.load(spark, path)
    return bl.psi_of(d.filter(F.col("doc_id") % 2 == 1), "n_chars")


@query(
    "q139_ks_drift",
    """
    WITH base AS (
        SELECT (doc_id % 2 = 0) AS a, CAST(n_chars AS BIGINT) AS v
        FROM documents WHERE n_chars IS NOT NULL
    ),
    hist AS (
        SELECT v,
               CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM base GROUP BY v
    ),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM hist),
    cum AS (
        SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
               SUM(cb) OVER (ORDER BY v) AS cumb
        FROM hist
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
                       - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
               AS ks
    FROM cum CROSS JOIN tot
    """,
)
def q139(spark, sf):
    """Exact two-sample Kolmogorov-Smirnov drift between two corpus
    epochs (even vs odd doc_id): sup_v |F_a(v) − F_b(v)| over EVERY
    distinct value — the unbinned complement to q137's PSI, sensitive to
    shape at any resolution. The corpus collapses to its distinct-value
    histogram (the only corpus shuffle); both running ECDFs come from
    ranking.global_prefix_sums — the q61 cutpoint-bucket machinery
    generalized to running sums, so NO global sort exists anywhere in
    the plan. See operators/drift.py::ks_report."""
    from ocr_vector_db_spark.operators.drift import ks_report

    d = load_table(spark, sf, "documents")
    return ks_report(d, (F.col("doc_id") % 2 == 0), "n_chars")


@query(
    "q140_embedding_drift",
    """
    WITH vals AS (
        SELECT (vec_id % 2 = 0) AS a,
               generate_subscripts(embedding, 1) AS i,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings
    ),
    per_dim AS (
        SELECT i,
               CAST(SUM(CASE WHEN a
                             THEN CAST(ROUND(v, 9) AS DECIMAL(28,9)) END)
                    AS DOUBLE)
                   / SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ma,
               CAST(SUM(CASE WHEN NOT a
                             THEN CAST(ROUND(v, 9) AS DECIMAL(28,9)) END)
                    AS DOUBLE)
                   / SUM(CASE WHEN a THEN 0 ELSE 1 END) AS mb
        FROM vals GROUP BY i
    ),
    counts AS (
        SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END)
                    AS BIGINT) AS nb
        FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b, CAST(COUNT(*) AS INT) AS dim,
           ROUND(CAST(SUM(CAST(ROUND(ma * mb, 12) AS DECIMAL(38,12)))
                      AS DOUBLE)
                 / (sqrt(CAST(SUM(CAST(ROUND(ma * ma, 12)
                                       AS DECIMAL(38,12))) AS DOUBLE))
                    * sqrt(CAST(SUM(CAST(ROUND(mb * mb, 12)
                                         AS DECIMAL(38,12))) AS DOUBLE))),
                 6) AS mean_cosine,
           ROUND(MAX(ABS(ma - mb)), 6) AS max_dim_shift
    FROM per_dim CROSS JOIN counts
    """,
)
def q140(spark, sf):
    """Embedding-space drift between two corpus epochs (even vs odd
    vec_id): cosine between the two mean vectors — an encoder or
    preprocessing change at ingest moves this before any text statistic
    does — plus the largest per-dimension mean shift. One posexplode +
    conditional per-dimension decimal sums is the only corpus shuffle
    (dim-sized output); the cosine folds on the dim-row table with the
    q120 rounding discipline, so every float sum is order-independent.
    See operators/drift.py::embedding_drift."""
    from ocr_vector_db_spark.operators.drift import embedding_drift

    e = load_table(spark, sf, "embeddings")
    return embedding_drift(e, (F.col("vec_id") % 2 == 0))


@query(
    "q141_token_gini",
    """
    WITH tk AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS w
        FROM documents
    ),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM tk WHERE w <> '' GROUP BY w),
    rk AS (
        SELECT cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt, w) AS BIGINT) AS rn
        FROM wc
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(cnt) AS BIGINT) AS total_count,
           ROUND(
               (2.0 * SUM(rn * cnt)) / (COUNT(*) * SUM(cnt))
               - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM rk
    """,
)
def q141(spark, sf):
    """Exact Gini coefficient of the token-frequency distribution — the
    corpus-concentration signal a curation pipeline tracks next to Zipf
    (q65): 0 = perfectly even vocabulary use, →1 = a few tokens dominate
    (boilerplate flood). Gini = 2·Σ(rank·cnt)/(n·Σcnt) − (n+1)/n over
    frequencies ranked ascending, and the ranks come from
    ranking.global_row_number — the cutpoint-bucket machinery, so the
    vocabulary-sized rank assignment has NO global sort (ties broken
    (cnt, w), deterministic both engines). All sums are exact bigints;
    only the final two divisions touch floats."""
    from ocr_vector_db_spark.operators.bpe import word_counts
    from ocr_vector_db_spark.operators.ranking import global_row_number

    d = load_table(spark, sf, "documents")
    wc = word_counts(d).select(
        "w", F.col("cnt").cast("bigint").alias("cnt")
    )
    ranked = global_row_number(wc, ["cnt", "w"], out_col="rn")
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("cnt").cast("bigint").alias("total_count"),
        F.round(
            (F.lit(2.0) * F.sum(F.col("rn") * F.col("cnt")))
            / (F.count(F.lit(1)) * F.sum("cnt"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


_Q142_GRID = [0.5, 0.6, 0.7, 0.8, 0.9]


@query(
    "q142_lsh_threshold_sweep",
    f"""
    WITH cand AS ({{cand}}),
    grid AS (SELECT unnest([{', '.join(str(t) for t in _Q142_GRID)}])
             AS threshold)
    SELECT g.threshold,
           CAST(COUNT(c.est_jaccard) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c.doc_a) AS BIGINT) AS n_left_docs
    FROM grid g LEFT JOIN cand c ON c.est_jaccard >= g.threshold
    GROUP BY g.threshold
    """.replace("{cand}", _MH_CAND_SQL.strip()),
)
def q142(spark, sf):
    """LSH threshold tuning sweep — recall_sweep's batched-jobs
    discipline applied to the dedup gate: candidate pairs and flagged
    left-docs at EVERY threshold in the grid from ONE candidate
    generation (the banding join runs once; the grid is a 5-row
    broadcast range-join over the pair table). This is the evidence an
    operator reads before picking q105's ingestion threshold —
    5 settings, one job, zero re-hashing."""
    from ocr_vector_db_spark.operators.dedup import minhash_lsh_candidates

    d = load_table(spark, sf, "documents")
    cands = minhash_lsh_candidates(
        d, num_hashes=16, bands=4, n=2, text_col="text", id_col="doc_id"
    )
    grid = spark.createDataFrame(
        [(t,) for t in _Q142_GRID], "threshold double"
    )
    return (
        grid.join(
            cands, cands["est_jaccard"] >= grid["threshold"], "left"
        )
        .groupBy("threshold")
        .agg(
            F.count("est_jaccard").cast("bigint").alias("n_pairs"),
            F.countDistinct("doc_a").cast("bigint").alias("n_left_docs"),
        )
    )


@query(
    "q143_heaps_vocab_growth",
    """
    WITH mx AS (SELECT MAX(doc_id) AS mid FROM documents),
    grid AS (
        SELECT u.i AS step, (u.i * mid) // 4 AS t
        FROM mx, LATERAL unnest([1, 2, 3, 4]) AS u(i)
    ),
    dtok AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+'))
                       AS w
            FROM documents
        ) WHERE w <> '' GROUP BY doc_id
    ),
    firsts AS (
        SELECT w, MIN(doc_id) AS first_doc
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+'))
                       AS w
            FROM documents
        ) WHERE w <> '' GROUP BY w
    ),
    toks AS (
        SELECT g.step, g.t, CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens
        FROM grid g JOIN dtok d ON d.doc_id <= g.t
        GROUP BY g.step, g.t
    ),
    vocab AS (
        SELECT g.step, CAST(COUNT(*) AS BIGINT) AS vocab
        FROM grid g JOIN firsts f ON f.first_doc <= g.t
        GROUP BY g.step
    ),
    curve AS (
        SELECT t.step, t.t AS max_doc_id, t.n_tokens, v.vocab
        FROM toks t JOIN vocab v USING (step)
    ),
    base AS (SELECT n_tokens AS n1, vocab AS v1 FROM curve WHERE step = 1)
    SELECT step, max_doc_id, n_tokens, vocab,
           CASE WHEN step = 1 THEN NULL
                ELSE ROUND(ln(CAST(vocab AS DOUBLE) / v1)
                           / ln(CAST(n_tokens AS DOUBLE) / n1), 6)
           END AS heaps_beta
    FROM curve CROSS JOIN base
    """,
)
def q143(spark, sf):
    """Heaps-law vocabulary growth curve: distinct-vocabulary size at 4
    nested corpus prefixes plus the fitted Heaps exponent
    (β = ln(V/V₁)/ln(N/N₁)) — the statistic that sizes a tokenizer's
    vocab budget before training it (q132) and predicts the Heaps-sized
    word table every BPE/LM pass iterates on. EXACT, not sketched, with
    no nested distinct-count blowup: each word reduces to its FIRST
    document (one map-side-combinable min agg — growth at prefix t is
    then just #words with first_doc ≤ t), per-doc token counts reduce
    once, and the 4-row threshold grid joins both vocab-sized tables
    broadcast. Two corpus passes total, everything after is
    vocabulary-sized."""
    d = load_table(spark, sf, "documents")
    mx = d.agg(F.max("doc_id").alias("mid"))
    grid = (
        spark.range(1, 5).select(F.col("id").cast("int").alias("step"))
        .join(F.broadcast(mx))
        .select(
            "step",
            F.call_function(
                "div", F.col("step").cast("bigint") * F.col("mid"),
                F.lit(4)
            ).alias("t"),
        )
    )
    words = d.select(
        "doc_id", F.explode(tokens_of(F.col("text"))).alias("w")
    )
    dtok = words.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    firsts = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    toks = (
        F.broadcast(grid).join(dtok, dtok["doc_id"] <= grid["t"])
        .groupBy("step", "t")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    vocab = (
        F.broadcast(grid).join(firsts, firsts["first_doc"] <= grid["t"])
        .groupBy("step")
        .agg(F.count("*").cast("bigint").alias("vocab"))
    )
    curve = toks.join(vocab, "step").select(
        "step", F.col("t").alias("max_doc_id"), "n_tokens", "vocab"
    )
    base = curve.filter(F.col("step") == 1).select(
        F.col("n_tokens").alias("n1"), F.col("vocab").alias("v1")
    )
    beta = F.when(F.col("step") == 1, F.lit(None).cast("double")).otherwise(
        F.round(
            F.log(F.col("vocab").cast("double") / F.col("v1"))
            / F.log(F.col("n_tokens").cast("double") / F.col("n1")),
            6,
        )
    )
    return curve.join(F.broadcast(base)).select(
        "step", "max_doc_id", "n_tokens", "vocab", beta.alias("heaps_beta")
    )


@query(
    "q144_cross_source_dup_matrix",
    """
    WITH cand AS ({cand}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(sa.source, sb.source) AS source_lo,
           GREATEST(sa.source, sb.source) AS source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(ROUND(est_jaccard, 6) AS DECIMAL(28,6)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_est_jaccard
    FROM cand c
    JOIN src sa ON sa.doc_id = c.doc_a
    JOIN src sb ON sb.doc_id = c.doc_b
    GROUP BY 1, 2
    """.replace("{cand}", _MH_CAND_SQL.strip()),
)
def q144(spark, sf):
    """Cross-source duplication matrix: which SOURCES copy from each
    other — q20's LSH candidates rolled up to unordered (source, source)
    cells with pair counts and mean estimated Jaccard. The curation
    signal behind source-level dedup decisions ('these two crawls
    overlap; dedup them against each other first'). One candidate
    generation (the banding join runs once), two broadcast joins against
    the slim (doc_id, source) projection, one hash rollup; the mean is
    an order-independent rounded-decimal sum."""
    from ocr_vector_db_spark.operators.dedup import minhash_lsh_candidates

    d = load_table(spark, sf, "documents")
    cands = minhash_lsh_candidates(
        d, num_hashes=16, bands=4, n=2, text_col="text", id_col="doc_id"
    )
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("_sb"))
    return (
        cands.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_lo"),
            F.greatest("_sa", "_sb").alias("source_hi"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.round("est_jaccard", 6).cast("decimal(28,6)"))
                .cast("double") / F.count("*"),
                6,
            ).alias("avg_est_jaccard"),
        )
    )


_CM_W, _CM_D = 16, 3


@query(
    "q151_cm_token_frequency",
    f"""
    WITH w AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+'))
               AS token
        FROM documents
    ),
    tok AS (SELECT token FROM w WHERE token <> ''),
    cells AS (
        SELECT j AS row,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || '@' || token),
                               1, 13))::BIGINT % {_CM_W} AS col,
               COUNT(*) AS cnt
        FROM tok CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
        GROUP BY 1, 2
    ),
    exact AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    cand AS (SELECT token, cnt FROM exact ORDER BY cnt DESC, token LIMIT 60),
    probe AS (
        SELECT c.token, c.cnt, j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || '@' || c.token),
                               1, 13))::BIGINT % {_CM_W} AS col
        FROM cand c CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ),
    est AS (
        SELECT p.token, p.cnt, MIN(COALESCE(s.cnt, 0)) AS est
        FROM probe p LEFT JOIN cells s ON p.j = s.row AND p.col = s.col
        GROUP BY p.token, p.cnt
    )
    SELECT token, cnt, est, est - cnt AS overcount
    FROM est ORDER BY cnt DESC, token
    """,
)
def q151(spark, sf):
    """Count-min token-frequency serving — q65's Zipf head answered from
    a persisted d×w-counter sketch instead of the vocabulary-sized exact
    table: the corpus folds ONCE into a CMSketch (build on even doc_ids
    + `add` of the odd ones — exact integer cell sums, so add ≡ rebuild
    bit-for-bit, which is exactly what the oracle's one-pass scratch
    rebuild certifies), and any key's frequency is then served by d md5
    probes + a broadcast join against the ≤ d·w-row cells table — KBs of
    state, mergeable across shards/epochs by cell-wise sum, zero
    vocabulary shuffle at query time. w={_CM_W} is sized deliberately
    SMALL against the fixture vocabulary (31 distinct tokens — the
    synthetic corpus is low-entropy; production sizing is w = ⌈e/ε⌉
    against the Heaps-law vocab, q143) so collisions are certain and
    `overcount = est − cnt ≥ 0` exhibits the one-sided-error contract in
    data (Cormode & Muthukrishnan 2005: est ≤ cnt + εN w.p. 1−δ, never
    below). Candidates are the exact top-60 (deterministic tie-break) so
    the output pins both the estimates and the guarantee next to ground
    truth. Completes the sketch family: HLL=cardinality, KMV=set
    relations, Bloom=membership, CM=frequency.
    Reference parity: the reference keeps exact per-collection stats
    (database/repository.py count aggregations); this is the
    monitoring-grade scale path for the same questions."""
    from ocr_vector_db_spark.operators.sketches import CMSketch

    d = load_table(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens_of(F.col("text"))).alias("token")
    )

    def build():
        path = session_tempdir("cmsketch_")
        sk = CMSketch.build(
            spark, tok.filter(F.pmod("doc_id", F.lit(2)) == 0), path,
            F.col("token"), w=_CM_W, d=_CM_D,
        )
        sk.add(tok.filter(F.pmod("doc_id", F.lit(2)) == 1), F.col("token"))
        return path

    path = session_memo(spark, sf, "q151_cm_path", build)
    sk = CMSketch.load(spark, path)
    cand = (
        tok.groupBy("token").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(60)
    )
    return (
        sk.estimate(cand, F.col("token"), "cnt")
        .select(
            F.col("key").alias("token"), "cnt", "est",
            (F.col("est") - F.col("cnt")).alias("overcount"),
        )
        .orderBy(F.desc("cnt"), "token")
    )
