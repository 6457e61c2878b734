"""Non-SQL-expressible ops + fixture corpus: ingest pipeline, streaming, golden eval, composed gates (q35-q39, q57, q62-q64, ...).

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
from ocr_vector_db_spark.session import (  # noqa: F401
    load_table,
    session_memo,
    session_tempdir,
)
from ocr_vector_db_spark.plans.families.vector import (  # noqa: F401
    _MH_CAND_SQL,
    _query_vec,
)

# =====================================================================
# Non-SQL-expressible ops (driver does a rows-only check; no oracle):
# stateful per-document automaton + recursive chunker, streaming, binary
# decode plumbing, golden-query harness.
# =====================================================================

def _fixture_store(spark, sf):
    """Session-memoized ingest of the fixture corpus. q35/q98/q100 all read
    the SAME ingested store; a deployment writes it once, not per query —
    so the parse→unitize→embed pass runs once per session and the cached
    tables serve every subsequent retrieval (same discipline as the
    q101/q102 index builds). Ingest THROUGHPUT is benched separately
    (bench.py's ingest_200docs times an un-memoized run)."""
    from ocr_vector_db_spark.sources.ingest import files_df, ingest

    def build():
        out = ingest(spark, files_df(spark, _FIXTURE_FILES), dim=16)
        cached = {
            n: out[n].cache()
            for n in ("embeddings", "parents", "fragments", "concepts")
            if n in out
        }
        for df in cached.values():
            df.count()
        return cached

    cached = session_memo(spark, sf, "fixture_store", build)
    # a spark.catalog.clearCache() elsewhere (bench.py clears between
    # timed queries) both evicts the data AND clears the persist
    # mark — re-assert it so the next action re-materializes once
    # instead of every consumer re-running the ingest per action
    for df in cached.values():
        if not df.storageLevel.useMemory:
            df.cache()
    return cached


_FIXTURE_FILES = [
    (
        "/corpus/decorators.md",
        "# Decorators\n\nPython decorators wrap functions to extend behavior "
        "without modifying them directly.\n\n```python\ndef retry(fn):\n"
        "    def inner(*a, **kw):\n        return fn(*a, **kw)\n    return inner\n```\n\n"
        "```js\nconst retry = (fn) => (...a) => fn(...a);\n```\n\n"
        "![decorator diagram](images/decorator.png)\n\n"
        "Closing remarks about composition and reuse of behavior wrappers.\n",
        "md",
    ),
    (
        "/corpus/generators.md",
        "Generators produce values lazily using the yield keyword in Python.\n\n"
        "```python\ndef count(n):\n    while True:\n        yield n\n        n += 1\n```\n\n"
        "Lazy evaluation saves memory on very large sequences of records.\n",
        "md",
    ),
    (
        "/corpus/scan.ocr",
        "OCR OUTPUT PAGE\nthis is a short\nbroken line that\nshould merge into\n"
        "one paragraph because each line is tiny\n코드 1-1\nfrom os,path import join\n"
        "42\nCopyright © 2021 Publisher\n",
        "ocr",
    ),
]


@query(
    "q35_ingest_pipeline",
    """
    SELECT * FROM (VALUES
        ('9e1b62ae98dc-0-105b7ec4', '9e1b62ae98dc040f', 'c0fefe404c56be57f6026c858b96f6e6', 'code', 'python', 0, 'python'),
        ('9ab63e5b3abc-0-df8d1751', '9ab63e5b3abcc6eb', 'cf267b98c14b114c3da3a79845257cf1', 'text', NULL, 0, 'pre_text'),
        ('9ab63e5b3abc-1-3b387b88', '9ab63e5b3abcc6eb', 'cf267b98c14b114c3da3a79845257cf1', 'code', 'python', 1, 'python'),
        ('9ab63e5b3abc-2-fa1d4715', '9ab63e5b3abcc6eb', 'cf267b98c14b114c3da3a79845257cf1', 'code', 'javascript', 2, 'javascript'),
        ('cf267b98-orp-0-f5e3a3a4', 'cf267b98-orphans-194e3e23', 'cf267b98c14b114c3da3a79845257cf1', 'text', NULL, 0, 'chunked_text'),
        ('cf267b98-orp-1-07ed1e3f', 'cf267b98-orphans-194e3e23', 'cf267b98c14b114c3da3a79845257cf1', 'image', 'image', 1, 'other'),
        ('812b07f38d54-0-e9b9cee0', '812b07f38d54b327', 'fdf83d5d15125eedf525935bb870f057', 'text', NULL, 0, 'pre_text'),
        ('812b07f38d54-1-b043ebd4', '812b07f38d54b327', 'fdf83d5d15125eedf525935bb870f057', 'code', 'python', 1, 'python'),
        ('fdf83d5d-orp-0-05b23797', 'fdf83d5d-orphans-05b23797', 'fdf83d5d15125eedf525935bb870f057', 'text', NULL, 0, 'chunked_text')
    ) AS t(id, concept_id, document_id, view, language, "order", unit_role)
    """,
)
def q35(spark, sf):
    """Full ingest lifecycle (§3.1): parse → unitize (ordered automaton via
    applyInPandas) → concepts/fragments → eligibility filter → embeddings.
    Stateful + recursive — not SQL-reproducible, but the fixture corpus is
    fixed and every output column is a deterministic hash/enum, so the
    oracle is the golden VALUES literal of the expected fragments (a
    checked-in golden table, enforced by the external gate). Regenerate
    after an intentional segmentation change by re-running this query and
    pasting the rows."""
    out = _fixture_store(spark, sf)
    return out["fragments"].select(
        "id", "concept_id", "document_id", "view", "language", "order", "unit_role"
    ).orderBy("document_id", "concept_id", "order")


@query(
    "q36_streaming_windowed_agg",
    """
    WITH sub AS (SELECT * FROM events ORDER BY event_id LIMIT 500)
    SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS window_start_us,
           epoch_us(date_trunc('hour', ts::TIMESTAMP) + INTERVAL 1 HOUR) AS window_end_us,
           event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(ROUND(value,6) AS DECIMAL(28,6))) AS DOUBLE), 4) AS total_value
    FROM sub GROUP BY 1, 2, 3
    """,
)
def q36(spark, sf):
    """Structured Streaming tumbling-window agg driven to completion with the
    availableNow trigger over a file source fed from the events table."""
    import json as _json

    from ocr_vector_db_spark.streaming.pipeline import (
        read_events_stream, run_to_memory, windowed_event_counts,
    )

    events = load_table(spark, sf, "events").orderBy("event_id").limit(500).collect()
    tmp = session_tempdir("events_stream_")
    with open(f"{tmp}/batch.json", "w") as fh:
        for r in events:
            fh.write(_json.dumps({
                "event_id": r.event_id, "ts": r.ts.isoformat(), "user_id": r.user_id,
                "event_type": r.event_type, "value": r.value, "props": r.props,
            }) + "\n")
    stream = read_events_stream(spark, tmp)
    out = run_to_memory(windowed_event_counts(stream), "q36_win_agg")
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "event_type", "n_events", "total_value",
    )


@query(
    "q37_multimodal_features",
    """
    WITH assets AS (
        SELECT 'asset-' || doc_id AS asset_id,
               CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               text, md5(text) AS h
        FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)
    )
    SELECT asset_id, kind,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           h AS content_hash,
           CASE WHEN kind IN ('image','video')
                THEN CAST(64 + ((strpos('0123456789abcdef', h[1]) - 1) * 16 + (strpos('0123456789abcdef', h[2]) - 1)) * 4 AS INTEGER) END AS width,
           CASE WHEN kind IN ('image','video')
                THEN CAST(64 + ((strpos('0123456789abcdef', h[3]) - 1) * 16 + (strpos('0123456789abcdef', h[4]) - 1)) * 4 AS INTEGER) END AS height,
           CASE WHEN kind IN ('audio','video')
                THEN ROUND(((strpos('0123456789abcdef', h[5]) - 1) * 16 + (strpos('0123456789abcdef', h[6]) - 1)) / 8.0, 3) END AS duration_s,
           array_to_string(list_transform(range(0, 16), i ->
               CAST(FLOOR((((strpos('0123456789abcdef', h[CAST(2 * (i % 16) + 1 AS INTEGER)]) - 1) * 16
                + (strpos('0123456789abcdef', h[CAST(2 * (i % 16) + 2 AS INTEGER)]) - 1)) / 255.0 * 2 - 1)
                * 1000000 + 0.5) AS BIGINT)::VARCHAR
           ), ',') AS feature_str
    FROM assets
    """,
)
def q37(spark, sf):
    """Multimodal binary columns: Arrow-batched decode/feature-extract over
    opaque payloads (decode stubbed deterministically; plumbing real).
    The feature vector is serialized to a scaled-integer CSV string — array
    columns are unhashable in external canonicalizers, so the inventory
    contract is scalar output columns only. floor(x*1e6 + 0.5) rounds
    half-up identically on both engines (both evaluate the same IEEE
    doubles; CAST-vs-truncate divergence avoided by flooring first)."""
    from ocr_vector_db_spark.sources.multimodal import extract_features

    docs = load_table(spark, sf, "documents").orderBy("doc_id").limit(50)
    assets = docs.select(
        F.concat(F.lit("asset-"), F.col("doc_id").cast("string")).alias("asset_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "UTF-8").alias("data"),
        F.create_map(F.lit("source"), F.col("source")).alias("metadata"),
    )
    feats = extract_features(assets)
    return feats.select(
        "asset_id", "kind", "n_bytes", "content_hash", "width", "height",
        "duration_s",
        F.concat_ws(
            ",",
            F.transform(
                "feature",
                lambda x: F.floor(x * 1000000 + F.lit(0.5)).cast("string"),
            ),
        ).alias("feature_str"),
    )


@query(
    "q38_golden_eval",
    """
    SELECT suite, CAST(passed AS BIGINT) AS passed, CAST(total AS BIGINT) AS total
    FROM (VALUES
        ('base', 8, 8),
        ('code', 7, 7),
        ('extended', 30, 30)
    ) AS t(suite, passed, total)
    ORDER BY suite
    """,
)
def q38(spark, sf):
    """The reference's 45 golden queries (eval_queries.jsonl 8 +
    eval_queries_code.jsonl 7 + eval_queries_extended.jsonl 30, runner
    api/cli/quality.py:21-91) ported as data and run against a synthesized
    fixture corpus (one doc per (reference parent, snippet), each containing
    exactly that snippet; see plans/golden_corpus.py). All 45 queries
    evaluate in ONE batch plan: broadcast query table ⋈ single corpus scan,
    per-query top_k via row_number. Deterministic (hash embedder, fixed
    corpus, exact-content fragments rank #1 at similarity 1.0) ⇒ golden
    VALUES oracle: every suite passes in full."""
    from ocr_vector_db_spark.plans.golden_corpus import (
        corpus_files, evaluate_batch, load_suites,
    )
    from ocr_vector_db_spark.sources.ingest import files_df, ingest

    suites = load_suites()
    out = ingest(spark, files_df(spark, corpus_files(suites)), dim=16)
    return evaluate_batch(spark, suites, out["embeddings"], out["concepts"], dim=16)


@query(
    "q39_caption_header_detection",
    r"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN 'Figure ' || doc_id || ': synthetic diagram caption' || chr(10) || text
                    WHEN doc_id % 7 = 0
                    THEN '## Section ' || doc_id || chr(10) || text
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           regexp_matches(text, '(?mi)^(?:figure|fig\.|table|그림)\s*\d+[:\.]?\s+.+') AS has_caption,
           CASE WHEN regexp_extract(text, '(?mi)^(?:figure|fig\.|table|그림)\s*\d+[:\.]?\s+.+') != ''
                THEN trim(regexp_extract(text, '(?mi)^(?:figure|fig\.|table|그림)\s*\d+[:\.]?\s+.+')) END AS caption,
           CASE WHEN regexp_extract(text, '(?m)^(?:#{1,3}\s+.+|Chapter\s+\d+\b|제\s*\d+\s*장|\d+\.\d+\s+.+)') != ''
                THEN trim(regexp_extract(text, '(?m)^(?:#{1,3}\s+.+|Chapter\s+\d+\b|제\s*\d+\s*장|\d+\.\d+\s+.+)')) END AS header
    FROM aug
    """,
)
def q39(spark, sf):
    """Caption + header detection/extraction (app/parents.py:11-18,137-153)
    over documents with synthetic caption/heading lines injected so the
    regex families are exercised on real matches."""
    from ocr_vector_db_spark.functions import captions

    d = load_table(spark, sf, "documents")
    aug = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("Figure "), F.col("doc_id").cast("string"),
                 F.lit(": synthetic diagram caption\n"), F.col("text")),
    ).when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("## Section "), F.col("doc_id").cast("string"),
                 F.lit("\n"), F.col("text")),
    ).otherwise(F.col("text"))
    return d.select(
        "doc_id",
        captions.has_caption_col(aug).alias("has_caption"),
        captions.caption_col(aug).alias("caption"),
        captions.header_col(aug).alias("header"),
    )


@query(
    "q40_rollup_agg",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {_sql_dsum('l_extendedprice')} AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q40(spark, sf):
    """Hierarchical rollup aggregation (beyond reference parity — the
    reference has no grouping sets; Spark/DuckDB both provide them)."""
    li = load_table(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum(F.col("l_extendedprice")).alias("total_price")
    )


@query(
    "q41_asof_join",
    """
    WITH signups AS (
        SELECT user_id, ts, MAX(event_id) AS signup_id
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id, ts
    ),
    purchases AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, ROUND(p.value, 4) AS value,
           s.signup_id AS last_signup_id,
           epoch_us(s.ts::TIMESTAMP) AS last_signup_ts_us
    FROM purchases p
    ASOF LEFT JOIN signups s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def q41(spark, sf):
    """As-of join (Spark lacks a native one — SURVEY §2.3 notes none in the
    reference either; this is the composition pattern): tag both streams,
    forward-fill the right side's latest row over event time per key, keep
    left rows. One shuffle on (user_id), no range explosion."""
    e = load_table(spark, sf, "events")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_id"))
        .select("user_id", "ts", "signup_id", F.lit(0).alias("__is_left"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id"), F.col("value"), F.lit(1).alias("__is_left")
    )
    unioned = signups.select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"), "signup_id", "__is_left",
    ).unionByName(
        purchases.select(
            "user_id", "ts", "event_id", "value",
            F.lit(None).cast("long").alias("signup_id"), "__is_left",
        )
    )
    # at equal ts the signup row (__is_left=0) sorts first so `>=` semantics
    # hold; forward-fill carries (ts, signup_id) of the latest signup
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "__is_left", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = F.when(F.col("__is_left") == 0, F.struct(F.col("ts"), F.col("signup_id")))
    filled = unioned.withColumn("__last_signup", F.last(marked, ignorenulls=True).over(w))
    return filled.filter(F.col("__is_left") == 1).select(
        "event_id", "user_id", F.round("value", 4).alias("value"),
        F.col("__last_signup.signup_id").alias("last_signup_id"),
        F.unix_micros(F.col("__last_signup.ts")).alias("last_signup_ts_us"),
    )


@query(
    "q42_pivot_event_types",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def q42(spark, sf):
    """Pivot: per-user event-type counts as columns (explicit value list so
    the output schema is static — required for both engines and for any
    downstream consumer at scale)."""
    e = load_table(spark, sf, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = e.groupBy("user_id").pivot("event_type", kinds).count()
    for k in kinds:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(0)).cast("bigint"))
    return out


@query(
    "q43_salted_skew_join",
    f"""
    SELECT o.o_orderstatus, COUNT(*) AS n_items,
           {_sql_dsum('l.l_extendedprice')} AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q43(spark, sf):
    """Skew-safe salted join: the salt spreads each hot key over N reducers;
    the aggregate is provably identical to the plain join (the oracle IS the
    plain join — randomness affects placement, never values)."""
    from ocr_vector_db_spark.operators.skew import salted_join

    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(li, o.withColumnRenamed("o_orderkey", "l_orderkey"),
                         "l_orderkey", salt_buckets=8)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("total_price"),
    )


@query(
    "q44_repetition_ratio",
    r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END AS grams
        FROM t
    )
    SELECT doc_id,
           CASE WHEN len(toks) >= 3
                THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
                ELSE 0.0 END AS repetition
    FROM g
    """,
)
def q44(spark, sf):
    """Repetition ratio: duplicated-trigram fraction — the C4-style
    boilerplate/spam signal for corpus filtering."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", ta.repetition_ratio_col(F.col("text"), 3).alias("repetition"))


@query(
    "q45_pii_scrub",
    r"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0
                    THEN text || ' contact user' || doc_id || '@example.com or https://ex.org/p/' || doc_id
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
           md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g')) AS scrubbed_hash
    FROM aug
    """,
)
def q45(spark, sf):
    """PII scrubbing: count + mask emails/URLs (synthetic PII injected on a
    quarter of documents so the masking is exercised on real matches)."""
    d = load_table(spark, sf, "documents")
    aug = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com or https://ex.org/p/"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("text"))
    n_emails, n_urls = ta.pii_counts_col(aug)
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        F.md5(ta.scrub_pii_col(aug)).alias("scrubbed_hash"),
    )


_ANN_INVARIANT_ORACLE = """
    SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
           CAST(0 AS BIGINT) AS top1_vec_id, CAST(1.0 AS DOUBLE) AS top1_similarity,
           1 AS recall_ok, true AS sorted_ok
"""


def _ann_invariants(results, exact, k: int = 10, recall_floor: float = 0.4):
    """Driver-checkable invariant summary for approximate-ANN queries whose
    codebooks aren't SQL-reproducible: instead of a rows-only record, emit
    (top-1 identity, recall@k >= floor vs the exact scan, sorted order) and
    compare against a constant oracle row. A broken quantizer, a lost
    shortlist, or an unsorted output all flip a column and fail the gate.
    The floor sits below the measured deterministic recall (0.5–0.7 on the
    synthetic corpus at sf0.001/sf0.01; seeded KMeans, so reproducible)."""
    from ocr_vector_db_spark.operators.retrieval import bounded_window

    w = bounded_window(F.col("similarity"), F.desc("similarity"), F.asc("vec_id"))
    ranked = results.select(
        "vec_id", "similarity", F.row_number().over(w).alias("rank")
    )
    wprev = bounded_window(F.col("rank"), F.asc("rank"))
    flagged = ranked.withColumn(
        "non_increasing",
        F.coalesce(F.col("similarity") <= F.lag("similarity").over(wprev), F.lit(True)),
    )
    hits = flagged.join(
        exact.select(F.col("vec_id").alias("exact_vec_id")),
        flagged.vec_id == F.col("exact_vec_id"),
        "left",
    )
    return hits.agg(
        F.lit(k).cast("bigint").alias("k"),
        F.count("*").alias("n_results"),
        F.max(F.when(F.col("rank") == 1, F.col("vec_id"))).alias("top1_vec_id"),
        F.round(F.max(F.when(F.col("rank") == 1, F.col("similarity"))), 6).alias(
            "top1_similarity"
        ),
        F.when(
            F.count("exact_vec_id") >= F.lit(int(recall_floor * k)), 1
        ).otherwise(0).alias("recall_ok"),
        F.bool_and("non_increasing").alias("sorted_ok"),
    )


@query("q46_pq_compression_search", _ANN_INVARIANT_ORACLE)
def q46(spark, sf):
    """Product quantization lifecycle: train codebooks (M KMeans fits),
    encode the corpus to M-byte codes, ADC top-k with exact refine.
    KMeans codebooks aren't SQL-reproducible, so the gate checks invariants
    (see _ann_invariants): top-1 must be the query vector itself at
    similarity 1.0, recall@10 vs the exact scan >= 0.4, output sorted."""
    from ocr_vector_db_spark.operators.pq import PQIndex

    e = load_table(spark, sf, "embeddings")
    pq = PQIndex.train(e, dim=64, m=8, k=16)
    encoded = pq.encode(e)
    qv = _query_vec(spark, sf, 0)
    results = pq.search(encoded, qv, 10).select("vec_id", "label", "similarity")
    exact = knn.knn_brute_force(e, qv, 10)
    return _ann_invariants(results, exact)


@query("q53_ivfpq_search", _ANN_INVARIANT_ORACLE)
def q53(spark, sf):
    """IVF-PQ (FAISS IndexIVFPQ, the columnar way): KMeans coarse quantizer
    partitions PQ-compressed RESIDUAL codes by cluster_id; search is a
    union of nprobe partition-pruned code scans (literal ADC distance
    tables, whole-stage codegen) + exact re-rank of the candidate heads.
    KMeans clustering isn't SQL-reproducible, so the gate checks invariants
    (see _ann_invariants)."""
    from ocr_vector_db_spark.operators.ivfpq import IVFPQIndex

    e = load_table(spark, sf, "embeddings")
    idx = IVFPQIndex.build(
        spark, e, session_tempdir("ivfpq_q53_"), dim=64,
        num_clusters=8, m=8, k=16,
    )
    qv = _query_vec(spark, sf, 0)
    results = idx.search(qv, 10, nprobe=3, corpus=e).select(
        "vec_id", "label", "similarity"
    )
    exact = knn.knn_brute_force(e, qv, 10)
    return _ann_invariants(results, exact)


@query(
    "q57_deterministic_split",
    """
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split, lang
    """,
)
def q57(spark, sf):
    """Reproducible train/val/test assignment: hash-mod split on md5(id)
    (first hex byte < 0xcc ≈ 80% / < 0xe6 ≈ 90%). Unlike seeded random
    sampling, the assignment is a pure function of the row key — stable
    across engines, re-runs, repartitions, and incremental appends, which
    is what a training pipeline needs for split integrity at 100 TB. The
    per-(split, lang) rollup doubles as the stratification check."""
    d = load_table(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "q58_event_gaps_lag",
    """
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    gaps AS (
        SELECT user_id,
               date_diff('millisecond', prev_ts, ts) AS gap_ms
        FROM ordered WHERE prev_ts IS NOT NULL
    )
    SELECT user_id, COUNT(*) AS n_gaps,
           CAST(MAX(gap_ms) AS BIGINT) AS max_gap_ms,
           ROUND(AVG(gap_ms), 4) AS avg_gap_ms
    FROM gaps GROUP BY user_id ORDER BY user_id LIMIT 200
    """,
)
def q58(spark, sf):
    """Inter-event gap analysis via lag(): per-user deterministic ordering
    (ts, event_id), exact integer millisecond gaps, one window shuffle on
    user_id then per-partition sorted streaming — the idle-time /
    bot-detection signal behind sessionization thresholds."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .withColumn(
            "gap_ms",
            (F.unix_millis(F.col("ts")) - F.unix_millis(F.col("prev_ts"))),
        )
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.max("gap_ms").cast("bigint").alias("max_gap_ms"),
            F.round(F.avg("gap_ms"), 4).alias("avg_gap_ms"),
        )
        .orderBy("user_id")
        .limit(200)
    )


@query(
    "q59_intersect_except",
    """
    WITH made AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                  WHERE o_orderstatus = 'F'),
    big AS (SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE o_totalprice > 150000),
    both_sets AS (SELECT custkey FROM made INTERSECT SELECT custkey FROM big),
    only_f AS (SELECT custkey FROM made EXCEPT SELECT custkey FROM big)
    SELECT 'intersect' AS set_op, COUNT(*) AS n FROM both_sets
    UNION ALL
    SELECT 'except' AS set_op, COUNT(*) AS n FROM only_f
    """,
)
def q59(spark, sf):
    """Set operations (SURVEY §2.7 had only union-dedup): INTERSECT and
    EXCEPT compile to left-semi / left-anti hash joins over the distinct
    key sets — no row explosion, one shuffle each."""
    o = load_table(spark, sf, "orders")
    made = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    big = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    inter = made.intersect(big).agg(F.count("*").alias("n")).select(
        F.lit("intersect").alias("set_op"), "n"
    )
    exc = made.exceptAll(big).agg(F.count("*").alias("n")).select(
        F.lit("except").alias("set_op"), "n"
    )
    return inter.unionByName(exc)


@query(
    "q60_price_histogram",
    """
    SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS hi
    FROM lineitem GROUP BY 1
    """,
)
def q60(spark, sf):
    """Fixed-width histogram: binning is a projection (codegen), the agg
    carries #buckets partials — the profile-a-column primitive that stays
    one scan + one tiny shuffle at any scale."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.withColumn(
            "bucket", F.floor(F.col("l_extendedprice") / 5000.0).cast("bigint")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("l_extendedprice").cast("double").alias("lo"),
            F.max("l_extendedprice").cast("double").alias("hi"),
        )
    )


@query(
    "q61_ntile_deciles",
    """
    WITH ranked AS (
        SELECT o_custkey, o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT decile, COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM ranked GROUP BY decile
    """,
)
def q61(spark, sf):
    """Decile assignment over a deterministic total order — the
    quantile-bucketing used for quality-score stratification.  Identical
    output to ``ntile(10) OVER (ORDER BY ...)`` (the oracle), but computed
    with the cutpoint pattern (operators/ranking.py): ONE hash shuffle on a
    derived range-bucket id (recomputed deterministically per branch — no
    exchange reuse) + broadcast per-bucket offsets instead of an Exchange
    SinglePartition — the last global-sort plan in the inventory, now
    scale-safe."""
    from ocr_vector_db_spark.operators.ranking import exact_ntile

    o = load_table(spark, sf, "orders")
    return (
        exact_ntile(o, ["o_totalprice", "o_orderkey"], 10, out_col="decile")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
    )


_SHINGLE_CTE = r"""
    toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id AS doc, unnest(
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)), i -> array_to_string(list_slice(t, i, i + 1), ' '))
                 ELSE [] END) AS shingle
        FROM toks
    )
"""


@query(
    "q62_decontamination",
    f"""
    WITH {_SHINGLE_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 5),
    corpus AS (SELECT doc, shingle FROM sh WHERE doc >= 5),
    totals AS (SELECT doc, COUNT(*) AS n_shingles FROM corpus GROUP BY doc),
    overlap AS (
        SELECT c.doc, COUNT(*) AS n_overlap
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc
    )
    SELECT t.doc AS doc_id, t.n_shingles,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           ROUND(COALESCE(o.n_overlap, 0) / CAST(t.n_shingles AS DOUBLE), 6)
               AS contamination,
           (COALESCE(o.n_overlap, 0) / CAST(t.n_shingles AS DOUBLE)) >= 0.3
               AS contaminated
    FROM totals t LEFT JOIN overlap o ON t.doc = o.doc
    """,
)
def q62(spark, sf):
    """Benchmark decontamination: flag training documents whose 2-gram sets
    overlap a held-out benchmark set (docs 0-4 stand in for the eval
    corpus). The benchmark shingle set is DISTINCT and benchmark-sized →
    broadcast inner join against the exploded corpus shingles; totals come
    from the same exploded pass. The standard eval-leak scrub at corpus
    scale (cf. GPT-3 appendix C / The Pile §6.3 methodology)."""
    from ocr_vector_db_spark.operators.dedup import _doc_shingles

    d = load_table(spark, sf, "documents")
    sh = _doc_shingles(d, "text", "doc_id", 2)
    bench = F.broadcast(
        sh.filter(F.col("doc") < 5).select("shingle").distinct()
    )
    corpus = sh.filter(F.col("doc") >= 5)
    totals = corpus.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    overlap = corpus.join(bench, "shingle").groupBy("doc").agg(
        F.count("*").alias("n_overlap")
    )
    ratio = F.col("n_overlap") / F.col("n_shingles").cast("double")
    return (
        totals.join(overlap, "doc", "left")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)))
        .select(
            F.col("doc").alias("doc_id"),
            "n_shingles",
            "n_overlap",
            F.round(ratio, 6).alias("contamination"),
            (ratio >= 0.3).alias("contaminated"),
        )
    )


@query(
    "q149_bloom_decontamination_screen",
    f"""
    WITH {_SHINGLE_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc < 5),
    corpus AS (SELECT doc, shingle FROM sh WHERE doc >= 5),
    bprobe AS (
        SELECT ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || shingle),
                               1, 13))::BIGINT % 2040 AS pos
        FROM bench CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ),
    words AS (
        SELECT CAST(pos // 60 AS INT) AS word_idx,
               bit_or(CAST(power(2.0, pos % 60) AS BIGINT)) AS bits
        FROM bprobe GROUP BY 1
    ),
    cprobe AS (
        SELECT doc, shingle,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || shingle),
                               1, 13))::BIGINT % 2040 AS pos
        FROM corpus CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
    ),
    ghit AS (
        SELECT doc, shingle,
               MIN(CASE WHEN w.bits IS NOT NULL
                         AND (w.bits & CAST(power(2.0, pos % 60) AS BIGINT))
                             <> 0
                        THEN 1 ELSE 0 END) AS all_hit
        FROM cprobe LEFT JOIN words w ON CAST(pos // 60 AS INT) = w.word_idx
        GROUP BY doc, shingle
    ),
    perdoc AS (
        SELECT doc, COUNT(*) AS n_shingles,
               CAST(SUM(all_hit) AS BIGINT) AS n_maybe
        FROM ghit GROUP BY doc
    ),
    exact AS (
        SELECT c.doc, COUNT(*) AS n_exact
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc
    )
    SELECT p.doc AS doc_id, p.n_shingles, p.n_maybe,
           COALESCE(e.n_exact, 0) AS n_exact,
           p.n_maybe - COALESCE(e.n_exact, 0) AS fp_grams,
           ROUND(p.n_maybe / CAST(p.n_shingles AS DOUBLE), 6)
               AS bloom_contamination,
           (p.n_maybe / CAST(p.n_shingles AS DOUBLE)) >= 0.3 AS flagged
    FROM perdoc p LEFT JOIN exact e ON p.doc = e.doc
    """,
)
def q149(spark, sf):
    """Bloom-filter decontamination screen — q62's eval-leak scrub
    re-expressed as the 100 TB plan: the benchmark 2-gram set is folded
    ONCE into a persisted m=2040-bit Bloom filter (build on half the
    grams + `add` of the other half — OR-idempotent, so add ≡ rebuild
    bit-for-bit; m is sized deliberately SMALL for the fixture so the
    sf0.01 corpus exhibits real false positives — fill ≈ 0.25 → FP ≈
    1.6%, ~200 of the 495 docs carry fp_grams > 0 — production sizing
    targets the same order with m grown to the benchmark corpus), and
    the corpus side is screened by k=3 md5 probes
    against the BROADCAST ≤ m/60-row words table: zero corpus-vs-bench
    shuffle, zero false negatives, the exact join reserved for the
    flagged remainder. Output keeps the exact q62 overlap next to the
    Bloom verdict, so `fp_grams = n_maybe − n_exact ≥ 0` exhibits the
    one-sided-error contract in data. The oracle rebuilds the words
    table from scratch in SQL and replays the screen bit-for-bit —
    hash-matching proves the persisted build+add ≡ one global pass.
    Reference parity: extends q62 (GPT-3 appendix C / The Pile §6.3
    decontamination) with the membership-sketch scale path; sizing per
    Broder & Mitzenmacher's survey (FP ≈ (1−e^{-kn/m})^k)."""
    from ocr_vector_db_spark.operators.dedup import _doc_shingles
    from ocr_vector_db_spark.operators.sketches import BloomSketch

    M, K = 2040, 3
    d = load_table(spark, sf, "documents")
    sh = _doc_shingles(d, "text", "doc_id", 2)
    bench = sh.filter(F.col("doc") < 5).select("shingle").distinct()
    corpus = sh.filter(F.col("doc") >= 5)

    def build():
        path = session_tempdir("bloom_")
        sk = BloomSketch.build(
            spark, bench.filter(F.crc32("shingle") % 2 == 0), path,
            F.col("shingle"), m=M, k=K,
        )
        sk.add(bench.filter(F.crc32("shingle") % 2 == 1), F.col("shingle"))
        return path

    sk = BloomSketch.load(spark, session_memo(spark, sf, "q149_bloom_path", build))
    screened = sk.screen(corpus, F.col("shingle"), "doc")
    perdoc = screened.groupBy("doc").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.col("maybe_member").cast("int")).cast("bigint")
        .alias("n_maybe"),
    )
    exact = corpus.join(F.broadcast(bench), "shingle").groupBy("doc").agg(
        F.count("*").alias("n_exact")
    )
    ratio = F.col("n_maybe") / F.col("n_shingles").cast("double")
    return (
        perdoc.join(exact, "doc", "left")
        .withColumn(
            "n_exact", F.coalesce(F.col("n_exact"), F.lit(0).cast("bigint"))
        )
        .select(
            F.col("doc").alias("doc_id"),
            "n_shingles", "n_maybe", "n_exact",
            (F.col("n_maybe") - F.col("n_exact")).alias("fp_grams"),
            F.round(ratio, 6).alias("bloom_contamination"),
            (ratio >= 0.3).alias("flagged"),
        )
    )


def _quality_gate_sql() -> str:
    return f"""
    WITH q AS ({{q24}}),
    r AS ({{q44}}),
    l AS ({{q23}})
    SELECT d.doc_id, q.quality, r.repetition, l.lang_pred,
           (q.quality >= 0.5 AND r.repetition <= 0.5
            AND l.lang_pred <> 'unknown') AS keep,
           concat_ws(',',
               CASE WHEN q.quality < 0.5 THEN 'low_quality' END,
               CASE WHEN r.repetition > 0.5 THEN 'repetitive' END,
               CASE WHEN l.lang_pred = 'unknown' THEN 'unknown_lang' END)
               AS reasons
    FROM documents d
    JOIN q ON d.doc_id = q.doc_id
    JOIN r ON d.doc_id = r.doc_id
    JOIN l ON d.doc_id = l.doc_id
    """


@query("q63_quality_gate")
def q63(spark, sf):
    """Composite C4/Gopher-style quality gate: length/stopword/punctuation
    score + 3-gram repetition + language-ID combine into a keep/drop
    verdict with machine-readable reasons — one scan, all codegen
    expressions, the fan-in filter a training pipeline runs before
    tokenization. Oracle = the q23/q24/q44 oracles composed as CTEs."""
    d = load_table(spark, sf, "documents")
    quality = ta.quality_score_col(F.col("text"))
    repetition = ta.repetition_ratio_col(F.col("text"))
    lang = ta.detect_language_col(F.col("text"))
    scored = d.select(
        "doc_id",
        quality.alias("quality"),
        repetition.alias("repetition"),
        lang.alias("lang_pred"),
    )
    keep = (
        (F.col("quality") >= 0.5)
        & (F.col("repetition") <= 0.5)
        & (F.col("lang_pred") != "unknown")
    )
    reasons = F.concat_ws(
        ",",
        F.when(F.col("quality") < 0.5, "low_quality"),
        F.when(F.col("repetition") > 0.5, "repetitive"),
        F.when(F.col("lang_pred") == "unknown", "unknown_lang"),
    )
    return scored.select(
        "doc_id", "quality", "repetition", "lang_pred",
        keep.alias("keep"), reasons.alias("reasons"),
    )


ORACLES["q63_quality_gate"] = (
    _quality_gate_sql()
    .replace("{q24}", ORACLES["q24_quality_score"])
    .replace("{q44}", ORACLES["q44_repetition_ratio"])
    .replace("{q23}", ORACLES["q23_language_id"])
)


_COMPONENTS_SQL = f"""
    WITH RECURSIVE pairs AS ({_MH_CAND_SQL}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE est_jaccard >= 0.5
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE est_jaccard >= 0.5
    ),
    reach(id, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id AS doc_id, MIN(comp) AS component_id,
           (id = MIN(comp)) AS is_canonical
    FROM reach GROUP BY id
    """


_KEEP_BEST_SQL = f"""
    WITH RECURSIVE pairs AS ({_MH_CAND_SQL}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE est_jaccard >= 0.5
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE est_jaccard >= 0.5
    ),
    reach(id, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(comp) AS component_id FROM reach GROUP BY id),
    q AS ({{q24}}),
    ranked AS (
        SELECT c.component_id, c.doc_id, q.quality,
               CAST(row_number() OVER (
                   PARTITION BY c.component_id
                   ORDER BY q.quality DESC, c.doc_id) AS BIGINT) AS rk,
               COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
        FROM comp c JOIN q ON c.doc_id = q.doc_id
    )
    SELECT component_id, doc_id AS kept_doc_id, quality AS kept_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1
    """


@query("q64_dedup_keep_best")
def q64(spark, sf):
    """Keep-best dedup: per near-dup cluster (q56's transitive closure),
    retain the highest-quality member (q24's score, ties on id) — what a
    production pipeline actually keeps, vs. min-id canonicalization. One
    window over the tiny (clustered-docs × 1) frame after the closure."""
    from ocr_vector_db_spark.operators.dedup import connected_components, minhash_lsh_candidates

    d = load_table(spark, sf, "documents")
    pairs = minhash_lsh_candidates(
        d, num_hashes=16, bands=4, n=2, text_col="text", id_col="doc_id"
    )
    comp = connected_components(pairs.filter(F.col("est_jaccard") >= 0.5)).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component_id")
    )
    quality = d.select("doc_id", ta.quality_score_col(F.col("text")).alias("quality"))
    joined = comp.join(quality, "doc_id")
    w = Window.partitionBy("component_id").orderBy(F.desc("quality"), "doc_id")
    wc = Window.partitionBy("component_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc).cast("bigint"))
        .filter(F.col("rk") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("quality").alias("kept_quality"),
            "n_members",
        )
    )


ORACLES["q64_dedup_keep_best"] = _KEEP_BEST_SQL.replace(
    "{q24}", ORACLES["q24_quality_score"]
)


@query("q56_neardup_components", _COMPONENTS_SQL)
def q56(spark, sf):
    """Duplicate-cluster connected components over the MinHash-LSH pair
    graph (est_jaccard >= 0.5): transitive closure via min-label
    propagation, canonical doc = min id per cluster. The oracle computes
    the same closure with a recursive CTE."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, n=2, text_col="text", id_col="doc_id"
    )
    comp = dedup.connected_components(pairs.filter(F.col("est_jaccard") >= 0.5))
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


@query(
    "q54_tfidf_top_terms",
    """
    WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9가-힣]+')) AS word
        FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w WHERE word <> ''
           GROUP BY doc_id, word),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    s AS (
        SELECT tf.doc_id, tf.word, tf.tf, df.df,
               ROUND(tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0), 6) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n
    ),
    r AS (SELECT *, CAST(row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, word) AS BIGINT) AS rank
          FROM s)
    SELECT doc_id, rank, word, tf, df, tfidf FROM r WHERE rank <= 3
    """,
)
def q54(spark, sf):
    """Corpus TF-IDF with top-3 characteristic terms per document — the
    vocabulary/keyword-extraction staple of an LLM data pipeline. Integer
    tf/df aggregates are exact; the word→df join broadcasts (Heaps'-law
    small vocab); per-doc top-k is a window, no global sort."""
    from ocr_vector_db_spark.operators.tfidf import top_terms_per_doc

    return top_terms_per_doc(load_table(spark, sf, "documents"), k=3)


@query(
    "q55_int8_quantized_knn",
    """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(
                   embedding::DOUBLE[],
                   x -> ROUND(x * (127.0 / list_max(
                            list_transform(embedding::DOUBLE[], y -> abs(y)))))
               ) AS codes
        FROM embeddings
    ),
    q AS (SELECT codes AS qc FROM e WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(e.codes, q.qc)
                 / (sqrt(list_dot_product(e.codes, e.codes))
                    * sqrt(list_dot_product(q.qc, q.qc))), 6) AS sim_q
    FROM e CROSS JOIN q
    ORDER BY sim_q DESC, e.vec_id LIMIT 10
    """,
)
def q55(spark, sf):
    """Int8 scalar-quantized KNN: symmetric per-vector quantization (4×
    smaller scannable state), cosine over integer codes — exact bigint
    sums make the approximate scores bit-reproducible across partition
    orders, so even the quantized path is oracle-checkable."""
    from ocr_vector_db_spark.functions.vector import int8_cosine_col, quantize_int8_col

    e = load_table(spark, sf, "embeddings").withColumn(
        "codes", quantize_int8_col(F.col("embedding"))
    )
    qc = [
        int(x)
        for x in e.filter(F.col("vec_id") == 0).select("codes").head().codes
    ]
    qcol = F.array(*[F.lit(c) for c in qc])
    return (
        e.select(
            "vec_id",
            "label",
            F.round(int8_cosine_col(F.col("codes"), qcol), 6).alias("sim_q"),
        )
        .orderBy(F.desc("sim_q"), "vec_id")
        .limit(10)
    )


@query(
    "q47_stats_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q47(spark, sf):
    """Statistical aggregates: exact interpolated percentiles (the sort-based
    path — percentile_approx is the at-scale variant with the same call
    shape), correlation and sample stddev."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.count("*").alias("n"),
    )


@query(
    "q48_cube_agg",
    f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           {_sql_dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q48(spark, sf):
    """CUBE aggregation across order status × priority (grouping-sets
    family, complements q40's rollup)."""
    o = load_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("total")
    )


@query(
    "q49_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           epoch_us(o.o_orderdate::TIMESTAMP) AS o_orderdate_us, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)
def q49(spark, sf):
    """TPC-H-Q3-shaped: selective fact-fact join + grouped revenue + top-k.
    Customer filter broadcasts; AQE picks the lineitem⋈orders strategy."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cut = F.lit("1998-03-15").cast("timestamp")
    sel_c = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    sel_o = o.filter(F.col("o_orderdate") < cut)
    sel_l = li.filter(F.col("l_shipdate") > cut)
    return (
        sel_o.join(F.broadcast(sel_c), sel_o["o_custkey"] == sel_c["c_custkey"])
        .join(sel_l, sel_l["l_orderkey"] == sel_o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q50_regional_supplier_volume",
    f"""
    SELECT n.n_name,
           {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q50(spark, sf):
    """TPC-H-Q5-shaped 5-way join: dims broadcast down onto the fact scan,
    one agg shuffle total."""
    r = load_table(spark, sf, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    n = load_table(spark, sf, "nation")
    s = load_table(spark, sf, "supplier")
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey")
    dims = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q51_range_join_binned",
    f"""
    SELECT e.event_id,
           CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks,
           {_sql_dsum('c.value')} AS click_value
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click'
     AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
)
def q51(spark, sf):
    """Time-range join done the scale-safe way: binned equi-join on
    (user_id, time-bucket) + exact filter instead of an inequality join
    (which Catalyst would plan as a broadcast-nested-loop). For every error
    event: clicks by the same user in the preceding 10 minutes."""
    from ocr_vector_db_spark.operators.range_join import range_join_binned

    e = load_table(spark, sf, "events")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts",
        F.col("value").alias("click_val"),
    )
    pairs = range_join_binned(errors, clicks, ["user_id"], -600.0, 0.0)
    hit = pairs.groupBy("event_id").agg(
        F.count("click_id").alias("__n"), dsum(F.col("click_val")).alias("__v")
    )
    return (
        errors.select("event_id")
        .join(hit, "event_id", "left")
        .select(
            "event_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_clicks"),
            F.col("__v").alias("click_value"),
        )
    )


@query(
    "q52_parent_synthesis_legacy",
    """
    SELECT * FROM (VALUES
        ('/corpus/chapters.md',   '6642d5b79abbc5a3f77b9e988ff6431a'),
        ('/corpus/decorators.md', '0ca1ef53bdfa9cd014056770f37dc924'),
        ('/corpus/generators.md', '3087c04c9e94447999e26ce8687c065b'),
        ('/corpus/korean.md',     'bb6a078b8ab2751724993898817d43a1'),
        ('/corpus/scan.ocr',      'ea2dbb53b07cc299abc8b3f9d4e99dcb')
    ) AS t(id, content_hash)
    """,
)
def q52(spark, sf):
    """Legacy parent synthesis (app/parents.py:94-182): header detection +
    first caption + sentence-truncated body per parent group. The regex
    header-fallback and sentence-boundary truncation are per-group
    sequential logic (applyInPandas), not SQL-expressible — so the check is
    a golden VALUES oracle over a deterministic fixture corpus (same
    contract as q35/q98; was rows-only before round 4). The extra fixtures
    exercise the 'Chapter N' and Korean '제 N 장' header fallbacks and the
    caption extractor."""
    from ocr_vector_db_spark.operators.parents import synthesize_parents_legacy

    extra = [
        ("/corpus/chapters.md",
         "Chapter 3\nThe shuffle boundary splits stages. Wide ops shuffle. "
         "Narrow ops do not. Extra trailing sentence for truncation checks.",
         "md"),
        ("/corpus/korean.md",
         "제 2 장\n분산 처리 엔진은 셔플 경계를 기준으로 스테이지를 나눈다. "
         "그림 1: 스테이지 경계 다이어그램",
         "md"),
    ]
    rows = [
        (p, t, "text", "pre_text", 0)
        for p, t, _k in list(_FIXTURE_FILES) + extra
    ]
    frags = spark.createDataFrame(
        rows,
        "concept_id string, content string, view string, unit_role string, "
        "`order` int",
    )
    out = synthesize_parents_legacy(frags)
    return out.select("id", F.md5("content").alias("content_hash"))


