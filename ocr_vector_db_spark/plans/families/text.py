"""Text analysis: language-ID, quality, tokens, fingerprints, eligibility (q23-q27).

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
# Text analysis
# =====================================================================


def _lang_exprs() -> tuple[str, str]:
    """(best_expr, case_expr) — the DuckDB twin of ta.detect_language_col,
    shared with the Korean end-to-end golden (families/korean.py)."""
    profs = {k: "[" + ",".join(f"'{w}'" for w in v) + "]" for k, v in ta.STOPWORDS.items()}
    # ko additionally scores tokens CONTAINING Hangul (particles agglutinate,
    # so whole-token stopword hits under-count Korean) — mirrors ta._hits.
    preds = {
        k: f"t -> list_contains({v}, t)" if k != "ko"
        else f"t -> list_contains({v}, t) OR regexp_matches(t, '{ta._KO_HANGUL}')"
        for k, v in profs.items()
    }
    scores = {
        k: f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), {p}))"
        for k, p in preds.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {scores[k]} = best AND best > 0 THEN '{k}'" for k in ta.STOPWORDS
    )
    return best, f"CASE {cases} ELSE 'unknown' END"


# The driver corpus is ASCII, so q23 unions one Korean fixture row
# (doc_id -1) onto the table on BOTH sides — the reference's primary
# language must be nameable by its own lang-ID (VERDICT r9 #5; the full
# Korean stack golden is q147).
_KO_ROW = "OCR 결과를 검증하는 한국어 문서입니다 그리고 색인 품질을 봅니다"


def _lang_sql() -> str:
    best, case = _lang_exprs()
    return f"""
    WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT CAST(-1 AS BIGINT), '{_KO_ROW}'
    ),
    scored AS (SELECT doc_id, text, {best} AS best FROM src)
    SELECT doc_id, {case} AS lang_pred
    FROM scored
    """


@query("q23_language_id", _lang_sql())
def q23(spark, sf):
    """Heuristic language ID: per-language stopword-profile argmax (ko
    scores tokens containing Hangul), over the corpus plus one Korean
    fixture row that must come back `ko`."""
    d = load_table(spark, sf, "documents").select("doc_id", "text").unionAll(
        spark.createDataFrame([(-1, _KO_ROW)], "doc_id bigint, text string")
    )
    return d.select("doc_id", ta.detect_language_col(F.col("text")).alias("lang_pred"))


@query(
    "q24_quality_score",
    r"""
    WITH t AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ntok,
               CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                    t -> list_contains(['the','a','and','of','to','in','is','it','that','for'], t))) AS DOUBLE) AS stop,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}\-]', '', 'g')) AS DOUBLE) AS punct
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN n = 0 THEN 0.0 ELSE ROUND(
               0.5 * least(n / 500.0, 1.0)
             + 0.3 * (CASE WHEN ntok > 0 THEN least(stop / ntok * 5.0, 1.0) ELSE 0.0 END)
             + 0.2 * (1.0 - least(punct / n * 10.0, 1.0)), 6) END AS quality
    FROM t
    """,
)
def q24(spark, sf):
    """Quality scoring: length / stopword-ratio / punctuation-ratio blend."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", ta.quality_score_col(F.col("text")).alias("quality"))


@query(
    "q25_token_stats",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_estimate,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def q25(spark, sf):
    """Token counting: whitespace tokens + BPE-ish estimate."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        ta.token_count_col(F.col("text")).cast("bigint").alias("n_tokens"),
        ta.bpe_token_estimate_col(F.col("text")).alias("bpe_estimate"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


@query(
    "q26_document_fingerprints",
    r"""
    WITH t AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
               string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           md5(norm) AS fingerprint,
           CASE WHEN len(toks) >= 3 THEN
               list_aggregate(list_transform(range(1, len(toks) - 1),
                   i -> md5(array_to_string(list_slice(toks, i, i + 2), ' '))), 'min')
           ELSE md5(norm) END AS shingle_fingerprint
    FROM t
    """,
)
def q26(spark, sf):
    """Document fingerprinting: exact md5 + min-shingle-hash (winnowing-style)."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        ta.fingerprint_col(F.col("text")).alias("fingerprint"),
        ta.shingle_fingerprint_col(F.col("text"), 3).alias("shingle_fingerprint"),
    )


@query(
    "q27_eligibility_filter",
    None,  # set below — needs the validator regexes assembled
)
def q27(spark, sf):
    """Embedding-eligibility flags (FRAG-LEN-001 + EMBED-BAN-*) per document."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        validators.is_eligible_col(F.col("text")).alias("eligible"),
        (F.length("text") >= validators.MIN_LENGTH).alias("long_enough"),
    )


def _eligibility_sql() -> str:
    pattern = "|".join(f"(?m)(?:{p})" for p in validators.ALL_BOILERPLATE)
    pattern = pattern.replace("'", "''")
    verbs_en = ",".join(f"'{v}'" for v in validators.REFERENCE_VERBS_EN)
    targs_en = ",".join(f"'{v}'" for v in validators.REFERENCE_TARGETS_EN)
    verbs_ko = ",".join(f"'{v}'" for v in validators.REFERENCE_VERBS_KO)
    targs_ko = ",".join(f"'{v}'" for v in validators.REFERENCE_TARGETS_KO)
    return f"""
    WITH t AS (
        SELECT doc_id, text, trim(text) AS stripped, lower(trim(text)) AS low,
               string_split(trim(text), chr(10)) AS lines
        FROM documents
    ),
    flags AS (
        SELECT doc_id, text, stripped, low,
               regexp_matches(text, '{pattern}') AS hit_pattern,
               (len(lines) > 2 AND len(list_distinct(list_filter(
                   list_transform(lines, x -> trim(x)), x -> x != ''))) = 1) AS identical_lines,
               (length(stripped) < 15
                AND ((EXISTS (SELECT 1 FROM unnest([{verbs_en}]) AS v(w) WHERE contains(low, w))
                      AND EXISTS (SELECT 1 FROM unnest([{targs_en}]) AS v(w) WHERE contains(low, w)))
                 OR (EXISTS (SELECT 1 FROM unnest([{verbs_ko}]) AS v(w) WHERE contains(stripped, w))
                     AND EXISTS (SELECT 1 FROM unnest([{targs_ko}]) AS v(w) WHERE contains(stripped, w))))
               ) AS pure_ref
        FROM t
    )
    SELECT doc_id,
           (length(text) >= 10 AND NOT hit_pattern AND NOT identical_lines AND NOT pure_ref) AS eligible,
           length(text) >= 10 AS long_enough
    FROM flags
    """


ORACLES["q27_eligibility_filter"] = _eligibility_sql()


@query(
    "q28_parent_synthesis",
    """
    SELECT lang, source,
           substr(string_agg(text, chr(10) || chr(10) ORDER BY doc_id), 1, 300) AS parent_content,
           COUNT(*) AS n_fragments
    FROM documents
    GROUP BY lang, source
    """,
)
def q28(spark, sf):
    """Parent-context synthesis shape (api/use_cases/ingest.py:282-318):
    ordered collect_list → join → truncate, all JVM-side."""
    d = load_table(spark, sf, "documents")
    return (
        d.select("lang", "source", F.struct(F.col("doc_id"), F.col("text")).alias("s"))
        .groupBy("lang", "source")
        .agg(
            F.substring(
                F.array_join(
                    F.transform(F.sort_array(F.collect_list("s")), lambda p: p["text"]),
                    "\n\n",
                ),
                1,
                300,
            ).alias("parent_content"),
            F.count("*").alias("n_fragments"),
        )
    )


