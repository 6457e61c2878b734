"""Chunking, IVF centroid pruning, batch KNN (q32-q34).

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
from ocr_vector_db_spark.session import load_table, session_memo  # noqa: F401
from ocr_vector_db_spark.plans.families.vector import (  # noqa: F401
    _COS,
    _query_vec,
)

# =====================================================================
# Chunking / IVF / batch-KNN
# =====================================================================


@query(
    "q32_chunk_fixed_stride",
    """
    WITH n AS (
        SELECT doc_id, text,
               greatest(1, CAST(ceil((length(text) - 200) / 150.0) AS BIGINT) + 1) AS n_chunks
        FROM documents
    ),
    idx AS (SELECT doc_id, text, unnest(range(0, n_chunks)) AS chunk_index FROM n)
    SELECT doc_id, chunk_index, substr(text, CAST(chunk_index * 150 + 1 AS INTEGER), 200) AS chunk
    FROM idx
    """,
)
def q32(spark, sf):
    """Fixed-stride chunking (TextChunker's SQL-expressible sibling —
    ingestion/chunking.py:12-62): sequence → transform → explode."""
    d = load_table(spark, sf, "documents")
    c = chunk_fixed_col(F.col("text"), 200, 150)
    return d.select("doc_id", F.explode(c).alias("c")).select(
        "doc_id",
        F.col("c.chunk_index").cast("bigint").alias("chunk_index"),
        F.col("c.chunk").alias("chunk"),
    )


@query(
    "q33_ivf_centroid_prune",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    idx AS (SELECT label, v, unnest(range(1, 65)) AS pos FROM e),
    comp AS (SELECT label, pos, v[CAST(pos AS INTEGER)] AS val FROM idx),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(ROUND(val * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 / COUNT(*) AS cval
        FROM comp GROUP BY label, pos
    ),
    qv AS (SELECT v FROM e WHERE vec_id = 0),
    qcomp AS (SELECT pos, v[CAST(pos AS INTEGER)] AS qval
              FROM (SELECT v, unnest(range(1, 65)) AS pos FROM qv)),
    score AS (
        SELECT c.label,
               ROUND(SUM(c.cval * q.qval)
                     / (sqrt(SUM(c.cval * c.cval)) * sqrt(SUM(q.qval * q.qval))), 6) AS centroid_sim
        FROM cent c JOIN qcomp q ON c.pos = q.pos
        GROUP BY c.label
    ),
    probes AS (SELECT label FROM score ORDER BY centroid_sim DESC, label LIMIT 2)
    SELECT e.vec_id, e.label, {_COS} AS similarity
    FROM embeddings e
    JOIN probes p ON e.label = p.label
    CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
    ORDER BY similarity DESC, e.vec_id LIMIT 10
    """,
)
def q33(spark, sf):
    """IVF-style pruned KNN with label as the cluster id: centroid = exact
    per-dimension mean, probe the nprobe=2 nearest clusters, exact top-k
    inside (the `ivfflat.probes` analogue, storage/schema.py:38-41).

    The centroid sub-plan is the q66-style wide aggregation: one 64-column
    partial agg per label, so the shuffle carries n_labels x 64 accumulators
    — NOT n_rows x 64 posexploded rows (64x shuffle amplification at scale).
    Sums are exact scaled-bigint (elements rounded to 6 dp then summed as
    integers): associative/deterministic like the decimal formulation but
    ~40% cheaper to analyze+codegen than 64 DECIMAL(28,12) chains (measured
    1.36s -> 0.85s warm at sf0.1), and 8-byte accumulators on the shuffle
    wire instead of 16. Overflow headroom: |element| <~ 10 so each scaled
    term <~ 1e7; a bigint sum is safe to ~1e11 rows per label — beyond a
    100 TB table's rows. The query vector is a local 64-float list, so the
    dot product folds into the same projection — no per-dim join at all.
    The wide sub-plan is generated as one SQL string: building a 64-dim
    expression tree column-by-column costs hundreds of Py4J round trips
    (~1.3s of driver latency per call); one parse of generated SQL is ~10x
    cheaper and yields the identical plan. Even that one parse+analyze is
    ~0.45s of driver latency at 64 dims (measured: build 0.45s + exec 0.59s
    per call at sf0.1), so the built DataFrame is memoized per
    (session, sf) — the prepared-statement reuse a serving deployment does;
    repeat executions pay only the 0.59s run cost."""
    import math

    def build():
        e = load_table(spark, sf, "embeddings")
        qv = _query_vec(spark, sf, 0)
        dim = len(qv)
        e.createOrReplaceTempView("q33_embeddings")
        sum_terms = ", ".join(
            f"SUM(CAST(ROUND(CAST(embedding[{i}] AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
            f" AS s{i}"
            for i in range(dim)
        )
        cval_terms = ", ".join(
            f"CAST(s{i} AS DOUBLE) / 1000000.0 / n AS cv{i}" for i in range(dim)
        )
        dot = " + ".join(f"cv{i} * {float(q)!r}" for i, q in enumerate(qv))
        sq = " + ".join(f"cv{i} * cv{i}" for i in range(dim))
        qnorm = math.sqrt(sum(x * x for x in qv))
        probes = spark.sql(f"""
            WITH sums AS (
                SELECT label, COUNT(*) AS n, {sum_terms}
                FROM q33_embeddings GROUP BY label
            ),
            cv AS (SELECT label, {cval_terms} FROM sums),
            score AS (
                SELECT label,
                       ROUND(({dot}) / (SQRT({sq}) * {qnorm!r}), 6) AS centroid_sim
                FROM cv
            )
            SELECT label FROM score ORDER BY centroid_sim DESC, label LIMIT 2
        """)
        # single fused plan: the nprobe selection joins in as a broadcast of the
        # 2-row probe table instead of a collect() round trip (one Spark job)
        pruned = e.join(F.broadcast(probes), "label")
        return knn.knn_brute_force(pruned, qv, 10).select(
            "vec_id", "label", "similarity"
        )

    return session_memo(spark, sf, "q33", build)


@query(
    "q34_knn_batch_queries",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5)
    SELECT * FROM (
        SELECT q.query_id, e.vec_id, {_COS} AS similarity,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY {_COS} DESC, e.vec_id) AS BIGINT) AS rank
        FROM embeddings e, q
    ) WHERE rank <= 3
    """,
)
def q34(spark, sf):
    """Many-query batch KNN: broadcast the query set, scan the corpus once
    (the genuine similarity join, SURVEY §2.3)."""
    e = load_table(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = knn.knn_batch(e, queries, 3)
    return out.select(
        "query_id", "vec_id", "similarity", F.col("rank").cast("bigint").alias("rank")
    )


