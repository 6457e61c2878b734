"""Vector / embedding operators: KNN, dedup sketches, near-dup (q16-q22).

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
# Vector / embedding operators
# =====================================================================

_COS = (
    "ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)"
    " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qv, q.qv))), 6)"
)


def _query_vec(spark, sf, vec_id: int = 0) -> list[float]:
    row = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row.embedding]


@query(
    "q16_knn_bruteforce_cosine",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label, {_COS} AS similarity
    FROM embeddings e, q
    ORDER BY similarity DESC, e.vec_id LIMIT 10
    """,
)
def q16(spark, sf):
    """Exact KNN: scan + score + top-k (the pgvector `ORDER BY <=> LIMIT k`,
    retrieval/search.py:111-113, re-expressed as TakeOrderedAndProject)."""
    e = load_table(spark, sf, "embeddings")
    qv = _query_vec(spark, sf, 0)
    return knn.knn_brute_force(e, qv, 10).select("vec_id", "label", "similarity")


@query(
    "q17_knn_topk_per_label",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.label, {_COS} AS similarity
        FROM embeddings e, q
    )
    SELECT * FROM (
        SELECT label, vec_id, similarity,
               CAST(ROW_NUMBER() OVER (PARTITION BY label
                    ORDER BY similarity DESC, vec_id) AS BIGINT) AS rank_in_group
        FROM scored
    ) WHERE rank_in_group <= 2
    """,
)
def q17(spark, sf):
    """Top-n-per-group over similarity (grouping.py:96-118 applied to KNN)."""
    e = load_table(spark, sf, "embeddings")
    qv = _query_vec(spark, sf, 0)
    scored = knn.with_similarity(e, qv)
    out = grouping.top_n_per_group(scored, "label", 2, id_col="vec_id")
    return out.select(
        "label", "vec_id", "similarity", F.col("rank_in_group").cast("bigint").alias("rank_in_group")
    )


@query(
    "q18_ngram_jaccard_neardup",
    r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id AS doc, unnest(
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)), i -> array_to_string(list_slice(t, i, i + 1), ' '))
                 ELSE [] END) AS shingle
        FROM toks
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
    co AS (
        SELECT x.doc AS doc_a, y.doc AS doc_b, COUNT(*) AS common
        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc < y.doc
        GROUP BY 1, 2
    )
    SELECT co.doc_a, co.doc_b,
           ROUND(common / CAST(a.n_sh + b.n_sh - common AS DOUBLE), 6) AS jaccard
    FROM co
    JOIN sizes a ON co.doc_a = a.doc
    JOIN sizes b ON co.doc_b = b.doc
    WHERE ROUND(common / CAST(a.n_sh + b.n_sh - common AS DOUBLE), 6) >= 0.2
    """,
)
def q18(spark, sf):
    """N-gram Jaccard near-dup pairs via inverted-index join (never O(n²))."""
    d = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=0.2, n=2, text_col="text", id_col="doc_id")


def _minhash_sql(num_hashes: int = 16, bands: int = 4) -> tuple[str, str, str]:
    """(signature SQL, lsh-candidates SQL, cross-side screen SQL) mirroring
    operators/dedup.py and operators/minhash_index.py."""
    slots = ",\n           ".join(
        f"MIN(substr(md5('{i}' || shingle), 1, 15)) AS mh_{i}" for i in range(num_hashes)
    )
    sig = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id AS doc, unnest(
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)), i -> array_to_string(list_slice(t, i, i + 1), ' '))
                 ELSE [] END) AS shingle
        FROM toks
    ),
    sig AS (
        SELECT doc,
           {slots}
        FROM sh GROUP BY doc
    )
    """
    rows_per_band = num_hashes // bands
    band_selects = " UNION ALL ".join(
        "SELECT doc, {b} AS band_id, md5(concat_ws(',', {cols})) AS band_hash, {all_cols} FROM sig".format(
            b=b,
            cols=", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)),
            all_cols=", ".join(f"mh_{i}" for i in range(num_hashes)),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN x.mh_{i} = y.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    cand = f"""
    , banded AS ({band_selects}),
    cand AS (
        SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b,
               ROUND(({agree}) / {float(num_hashes)}, 6) AS est_jaccard
        FROM banded x JOIN banded y
          ON x.band_id = y.band_id AND x.band_hash = y.band_hash AND x.doc < y.doc
    )
    SELECT doc_a, doc_b, est_jaccard FROM cand
    """
    # cross-side variant (q105): pairs between the odd-id NEW batch and the
    # even-id INDEXED corpus only — the incremental-ingestion screen
    cross = f"""
    , banded AS ({band_selects}),
    cand AS (
        SELECT DISTINCT x.doc AS new_id, y.doc AS corpus_id,
               ROUND(({agree}) / {float(num_hashes)}, 6) AS est_jaccard
        FROM banded x JOIN banded y
          ON x.band_id = y.band_id AND x.band_hash = y.band_hash
         AND x.doc % 2 = 1 AND y.doc % 2 = 0
    )
    SELECT new_id, corpus_id, est_jaccard FROM cand
    """
    sig_select = "SELECT doc, " + ", ".join(f"mh_{i}" for i in range(num_hashes)) + " FROM sig"
    return sig + sig_select, sig + cand, sig + cross


_MH_SIG_SQL, _MH_CAND_SQL, _MH_CROSS_SQL = _minhash_sql(16, 4)


@query("q19_minhash_signatures", _MH_SIG_SQL)
def q19(spark, sf):
    """MinHash signatures (16 md5-derived slots over 2-token shingles)."""
    d = load_table(spark, sf, "documents")
    return dedup.minhash_signatures(d, num_hashes=16, n=2, text_col="text", id_col="doc_id")


@query("q20_minhash_lsh_candidates", _MH_CAND_SQL)
def q20(spark, sf):
    """MinHash-LSH banding: candidate near-dup pairs + estimated Jaccard."""
    d = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, n=2, text_col="text", id_col="doc_id"
    )


def _simhash_sql(bits: int = 16) -> str:
    odd = "('1','3','5','7','9','b','d','f')"
    bit_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN substr(md5(tok), {i + 1}, 1) IN {odd} THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    )
    SELECT doc_id, ({bit_terms}) AS simhash
    FROM toks GROUP BY doc_id
    """


@query("q21_simhash_signatures", _simhash_sql(16))
def q21(spark, sf):
    """16-bit SimHash signature per document (hex-digit-parity bits)."""
    from ocr_vector_db_spark.session import spread_for_compute

    d = load_table(spark, sf, "documents")
    return spread_for_compute(d.select("doc_id", "text")).select(
        "doc_id", dedup.simhash_col(F.col("text"), 16).alias("simhash")
    )


@query(
    "q22_embedding_neardup_blocked",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
    """,
)
def q22(spark, sf):
    """Embedding-cosine near-dup pairs, blocked by label (the IVF-cluster
    blocking pattern — the self-join never goes global)."""
    e = load_table(spark, sf, "embeddings")
    return dedup.embedding_near_dup_pairs(e, threshold=0.3, block_col="label")


