"""PDF ingestion + OCR-invocation policy (q86-q88).

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
from ocr_vector_db_spark.plans.families.vector import _simhash_sql  # noqa: F401

# =====================================================================
# PDF ingestion + OCR-invocation policy
# =====================================================================


def _pdf_fixture_files() -> list[tuple[str, bytes]]:
    """Three deterministic fixture PDFs (pure-Python writer, no library):
    text-rich (policy: sufficient, no OCR), code-bearing (policy: preserve
    deterministic), sparse junk (policy: vision allowed — but no provider
    is wired in this query, so deterministic output is preserved)."""
    from ocr_vector_db_spark.sources.pdf_decode import build_simple_pdf

    report = build_simple_pdf([
        [
            {"kind": "text", "x": 72, "y": 720, "size": 12,
             "text": "Quarterly Retrieval System Report\n"
                     "This report details the ingestion volumes and latency "
                     "profiles across all collections."},
            {"kind": "text", "x": 72, "y": 560, "size": 12,
             "text": "Latency stayed below the target envelope for every "
                     "percentile tracked during the quarter."},
            {"kind": "image", "x": 72, "y": 300, "w": 240, "h": 160,
             "width": 480, "height": 320},
        ],
        [
            {"kind": "text", "x": 72, "y": 700, "size": 12,
             "text": "Appendix with methodology notes and the complete "
                     "measurement protocol for reproducibility."},
        ],
    ])
    snippets = build_simple_pdf([[
        {"kind": "text", "x": 72, "y": 700, "size": 10,
         "text": "def retry(fn):\n    return fn\nimport os"},
    ]])
    scanned = build_simple_pdf([[
        {"kind": "text", "x": 72, "y": 700, "size": 12,
         "text": "|| -- .. ~~ :: || -- .. ~~ :: || -- .. ~~ ::"},
    ]])
    return [
        ("/corpus/report.pdf", report),
        ("/corpus/snippets.pdf", snippets),
        ("/corpus/scanned.pdf", scanned),
    ]


@query(
    "q86_pdf_ingest",
    """
    SELECT * FROM (VALUES
        ('/corpus/report.pdf', 'text', 'none', 0, 0, 210, 'Quarterly Retrieval System Rep'),
        ('/corpus/report.pdf', 'text', 'none', 2, 1, 90, 'Appendix with methodology note'),
        ('/corpus/scanned.pdf', 'code', 'python', 0, 0, 44, '|| -- .. ~~ :: || -- .. ~~ :: '),
        ('/corpus/snippets.pdf', 'code', 'python', 0, 0, 36, e'def retry(fn):\\n\\nreturn fn\\n\\nimp')
    ) AS t(source_path, kind, language, seg_order, page, n_chars, prefix)
    """,
)
def q86(spark, sf):
    """PDF ingestion end-to-end with zero native dependencies: fixture PDFs
    (Flate-compressed, multi-page, image XObjects) → pure-Python
    content-stream decode (sources/pdf_decode.py) → block merge + min-length
    filter → Vision Invocation Policy → code re-classification — all inside
    mapInPandas, one document per row (parsers.parse_pdf; reference
    pymupdf_parser.py:180-242). Deterministic fixtures ⇒ golden VALUES
    oracle, like q35."""
    from ocr_vector_db_spark.sources.ingest import parse_pdf_segments, pdf_files_df

    files = pdf_files_df(spark, _pdf_fixture_files())
    segs = parse_pdf_segments(files)
    return segs.select(
        "source_path", "kind",
        F.coalesce("language", F.lit("none")).alias("language"),
        F.col("order").alias("seg_order"), "page",
        F.length("content").alias("n_chars"),
        F.substring("content", 1, 30).alias("prefix"),
    ).orderBy("source_path", "seg_order")


@query(
    "q87_ocr_policy_gate",
    r"""
    WITH m AS (
        SELECT doc_id,
               length(text) AS n_chars,
               length(trim(text)) AS n_trimmed,
               CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^A-Za-z0-9가-힣]', '', 'g'))::DOUBLE
                         / length(text)
                    ELSE 0.0 END AS ratio,
               (CASE WHEN regexp_matches(text, '\bdef\s+\w+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\bclass\s+\w+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\bimport\s+\w+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\bfrom\s+\w+\s+import') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\bfunction\s+\w+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\bconst\s+\w+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\blet\s+\w+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\bvar\s+\w+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\basync\s+') THEN 1 ELSE 0 END
                + CASE WHEN regexp_matches(text, '\bawait\s+') THEN 1 ELSE 0 END
               ) AS code_hits
        FROM documents
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(ratio, 6) AS alnum_ratio,
           code_hits,
           (NOT (n_trimmed >= 100 AND ratio >= 0.3)) AND code_hits < 2
               AS vision_allowed
    FROM m
    """,
)
def q87(spark, sf):
    """Vision-OCR invocation policy as a corpus-wide column predicate
    (sources/ocr_policy.py; reference thresholds pymupdf_parser.py:675-759):
    text sufficiency (>=100 trimmed chars AND alnum ratio >= 0.3), >=2 code
    patterns, and the resulting gate decision per document. Pure per-row
    expressions — map-only, zero shuffles; composed upstream of
    ocr_with_cache so only admitted rows ever reach the provider."""
    from ocr_vector_db_spark.sources.ocr_policy import (
        alnum_ratio_col, code_pattern_count_col, vision_allowed_col,
    )

    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars"),
        F.round(alnum_ratio_col(t), 6).alias("alnum_ratio"),
        code_pattern_count_col(t).alias("code_hits"),
        vision_allowed_col(t).alias("vision_allowed"),
    )


def _simhash_pairs_sql(bits: int = 16, r: int = 2) -> str:
    band_union = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {j} AS band, (simhash >> {lo}) & {(1 << w) - 1} AS val FROM sig"
        for j, (lo, w) in enumerate(dedup.simhash_band_widths(bits, r))
    )
    return f"""
    WITH sig AS ({_simhash_sql(bits)}),
    bands AS (
        {band_union}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {r}
    """


@query("q88_simhash_banded_pairs", _simhash_pairs_sql(16, 2))
def q88(spark, sf):
    """SimHash near-dup pairs within Hamming distance 2 via pigeonhole
    banding (r+1 bands, exact-match band join, bit_count verify) — the r>0
    generalization of q21's r=0 bucket; see operators/dedup.py
    simhash_near_dup_pairs for the scale shape. Reference analogue:
    approximate HNSW recall (storage/schema.py:80-85)."""
    d = load_table(spark, sf, "documents")
    return dedup.simhash_near_dup_pairs(d, bits=16, r=2)


