"""Korean end-to-end golden (q147): the lexical stack on the reference's
PRIMARY language.

The reference is a KO/EN OCR system — Korean validator corpus
(`tests/test_korean_validator.py:8-78`), Hangul no-results detection
(`generation/pipeline.py:109-129`), KO stopword removal
(`generation/query_optimizer.py:173-236`). Rounds 1-9 kept the
reference-parity paths Hangul-aware but the extension-stack tokenizers
ASCII-only, so a Korean document tokenized to zero terms (VERDICT r9's
top capability hole). Round 10 widened the shared splitter
(`functions/tokenize.py`) to [a-z0-9가-힣]; this golden pins the whole
stack on a deterministic KO/EN fixture corpus:

  lang-ID → ko          (q23's operator, Hangul-token scoring)
  BM25    → Korean query terms retrieve Korean docs (q89's operator)
  bigram LM cross-entropy over Korean tokens        (q118's operator)
  BPE train + segment over Hangul symbol strings    (q132/q133's ops)

The oracle replays all four in DuckDB over the same fixture (a CTE named
`documents` shadows the registered view, so q89/q132/q133's oracle
fragments are reused verbatim): tokenization, string ordering (Hangul
syllables are BMP, so UTF-16 code-unit order ≡ UTF-8 byte order), and
per-character BPE symbol splits must agree on both engines bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_vector_db_spark.functions import text_analysis as ta
from ocr_vector_db_spark.plans.families.core import query
from ocr_vector_db_spark.plans.families.retrieval import (
    _NGRAM_TOKS_CTE,
    _bm25_scored_sql,
)
from ocr_vector_db_spark.plans.families.stats import _bpe_stages_sql
from ocr_vector_db_spark.plans.families.text import _lang_exprs
from ocr_vector_db_spark.session import session_memo

# Deterministic KO/EN fixture corpus — OCR-shaped Korean (particles often
# whitespace-split by line merges, which is also what keeps whole-token
# BM25 honest), two English docs, one mixed doc.
_KO_DOCS: list[tuple[int, str]] = [
    (1, "검색 엔진 개요 이 문서 는 검색 엔진 의 기본 구조 를 설명 합니다"),
    (2, "역색인 은 검색 속도 를 높이는 핵심 자료 구조 입니다"),
    (3, "문서 수집 파이프라인 은 크롤러 와 파서 로 구성 됩니다"),
    (4, "벡터 검색 은 임베딩 공간 에서 유사한 문서 를 찾습니다"),
    (5, "the quick brown fox jumps over the lazy dog and it is fine"),
    (6, "search engines rank documents by term frequency and inverse document frequency"),
    (7, "엔진 성능 튜닝 가이드 샤드 수 와 캐시 크기 를 조정 합니다"),
    (8, "OCR 결과 보정 모듈 은 한글 자모 오류 를 교정 합니다"),
    (9, "하이브리드 검색 은 BM25 와 벡터 유사도 를 결합 합니다 검색 품질 이 향상 됩니다"),
    (10, "mixed corpus 문서 with english and 한국어 tokens for the tokenizer"),
    (11, "임베딩 모델 은 문장 을 고정 길이 벡터 로 변환 합니다"),
    (12, "검색 로그 분석 으로 질의 패턴 을 파악 합니다"),
]

_KO_TERMS = ["검색", "문서", "엔진"]
_KO_MERGES = 10


def _ko_corpus(spark):
    # repartition(1): 12 fixture rows across local[32] pay 32-task
    # scheduling overhead on every one of the plan's ~10 tiny stages
    # (measured 2.0s vs 2.6s plain; coalesce(1) is the trap — it drags
    # the whole multi-consumer plan through one serial RDD lineage
    # instead of a LocalTableScan, measured 16.5s)
    return spark.createDataFrame(
        _KO_DOCS, "doc_id bigint, text string"
    ).repartition(1)


def _ko_oracle_sql() -> str:
    rows = ",\n            ".join(f"({i}, '{t}')" for i, t in _KO_DOCS)
    best, case = _lang_exprs()
    # CTE names are disjoint across the reused fragments:
    # bm25  → base,d,posting,tf,dfx,stats,scored   (q89's builder)
    # ngram → toks,bg,uni                          (q117/q118's CTE)
    # bpe   → tk,wc,w0..wN,p*,m*                   (q132/q133's builder)
    return f"""
    WITH documents AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, text
        FROM (VALUES
            {rows}) v(doc_id, text)
    ),
    {_bm25_scored_sql(_KO_TERMS)},
    {_NGRAM_TOKS_CTE.strip().rstrip()},
    {_bpe_stages_sql(_KO_MERGES).strip()},
    lm_v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
    lm_bgc AS (
        SELECT tok_a, tok_b, COUNT(*) AS cab
        FROM bg GROUP BY tok_a, tok_b
    ),
    lm_scored AS (
        SELECT bg.doc_id,
               ROUND(-ln(CAST(lm_bgc.cab + 1 AS DOUBLE)
                         / (CAST(ua.cnt AS DOUBLE) + lm_v.v)), 6) AS nlp
        FROM bg JOIN lm_bgc USING (tok_a, tok_b)
                JOIN uni ua ON bg.tok_a = ua.tok
                CROSS JOIN lm_v
    ),
    lm AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(CAST(nlp AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_neg_logprob
        FROM lm_scored GROUP BY doc_id
    ),
    seg AS (
        SELECT w, len(regexp_extract_all(sym, '<([^<>]+)>', 1)) AS n_sym
        FROM w{_KO_MERGES}
    ),
    dw AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS w
        FROM documents
    ),
    occ AS (
        SELECT doc_id, w, COUNT(*) AS occ FROM dw WHERE w <> ''
        GROUP BY doc_id, w
    ),
    bpec AS (
        SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_words,
               CAST(SUM(occ * n_sym) AS BIGINT) AS n_bpe_tokens
        FROM occ JOIN seg USING (w) GROUP BY doc_id
    ),
    lg AS (
        SELECT doc_id, {case} AS lang_pred
        FROM (SELECT doc_id, text, {best} AS best FROM documents)
    )
    SELECT l.doc_id, l.lang_pred,
           COALESCE(s.bm25, 0.0) AS bm25,
           lm.n_bigrams, lm.avg_neg_logprob,
           b.n_words, b.n_bpe_tokens
    FROM lg l
    LEFT JOIN scored s ON s.id = l.doc_id
    JOIN lm USING (doc_id)
    JOIN bpec b ON b.doc_id = l.doc_id
    """


@query("q147_korean_lexical_stack", _ko_oracle_sql())
def q147(spark, sf):
    """Korean tokens through the whole lexical stack, one fused plan:
    lang-ID names ko, BM25 retrieves by Korean query terms, the bigram LM
    scores Korean token sequences, BPE trains merges over Hangul symbol
    strings and segments with them. All four legs run the production
    operators (not reimplementations); the fixture corpus replaces the
    ASCII sf tables because the driver corpus contains no Hangul."""
    from ocr_vector_db_spark.operators import ngram_lm, retrieval
    from ocr_vector_db_spark.operators.bpe import bpe_token_counts, bpe_train

    # constant-fixture PLAN memo (the decode goldens' sanctioned scope):
    # the four legs + fusion are rebuilt identically per call (~1.1 s of
    # driver analysis incl. the LM's eager vocab count over the 12-row
    # fixture). No leg caches anything (bigram_cross_entropy is
    # deliberately uncached), so every count re-executes the whole
    # four-leg pipeline from the fixture rows.
    def build():
        d = _ko_corpus(spark)
        merges = session_memo(
            spark, sf, "q147_merges", lambda: bpe_train(d, _KO_MERGES)[0]
        )

        lang = d.select(
            "doc_id", ta.detect_language_col(F.col("text")).alias("lang_pred")
        )
        bm = retrieval.bm25_scores(d, _KO_TERMS)
        lm = ngram_lm.bigram_cross_entropy(d)
        bpec = bpe_token_counts(d, merges)
        return (
            lang.join(F.broadcast(bm), lang["doc_id"] == bm["id"], "left")
            .join(F.broadcast(lm), "doc_id")
            .join(F.broadcast(bpec), "doc_id")
            .select(
                "doc_id", "lang_pred",
                F.coalesce(F.col("bm25"), F.lit(0.0)).alias("bm25"),
                "n_bigrams", "avg_neg_logprob", "n_words", "n_bpe_tokens",
            )
        )

    return session_memo(spark, sf, "q147_plan", build)
