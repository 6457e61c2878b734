"""Shared registry + engine-portability helpers for the query families
(split from the former monolithic inventory.py — see plans/inventory.py,
the driver-facing hub).

Every operator from SURVEY.md §2 registers here as a (spark query,
duckdb oracle SQL) pair over the driver-generated tables.

Engine-portability rules used throughout (so Spark and DuckDB hash-match):
- every computed column is aliased identically on both sides;
- float aggregates go through exact decimal sums:
  sum(round(x, 6)::decimal(28,6))::double — associativity-proof, so Spark's
  partial aggregation order can't shift the result;
- similarities/ratios are rounded to 6 dp on both sides, and every top-k /
  row_number orders by (measure, unique id) so ties are deterministic;
- hashes are md5-based (identical everywhere); MinHash slots compare as
  fixed-length hex strings; SimHash bits come from hex-digit parity;
- row_number()/size()/length() are cast to bigint to match DuckDB's types.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_vector_db_spark.functions import text_analysis as ta
from ocr_vector_db_spark.functions import validators
from ocr_vector_db_spark.functions.chunking import chunk_fixed_col
from ocr_vector_db_spark.operators import dedup, grouping, knn, metrics
from ocr_vector_db_spark.session import load_table, session_memo, session_tempdir

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def dsum(c, scale: int = 6):
    """Order-independent float sum: round per-row (identical doubles on both
    engines), sum exactly as decimal, emit double."""
    return F.sum(F.round(c, scale).cast(f"decimal(28,{scale})")).cast("double")


def _sql_dsum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST(ROUND({expr},{scale}) AS DECIMAL(28,{scale}))) AS DOUBLE)"




def cold_plan_memo(spark, sf, name: str, build):
    """Session-memoized built plan WITH internal cached sub-frames:
    ``build()`` returns ``(out, cached)`` and this returns ``out`` — the
    `_fixture_store` discipline (nonsql.py) generalized for the
    constant-fixture decode goldens (optimization r15).

    The fixture-golden plans cost seconds of EAGER driver analysis per
    construction (deep per-asset decode → signature → banded-join trees,
    re-analyzed under every operator), so the PLAN is memoized — results
    never are. The sub-frame caches exist only to deduplicate the 3–5
    references each plan makes to its signature subtree WITHIN one
    action (guide §2.4: q159's uncached plan re-ran the decode under
    every reference — 379 operators / 120 Exchanges).

    COLD LANE (optimization r16, VERDICT r15 item 1): every call DROPS
    the cached data before re-asserting the marks, so each action on the
    returned plan re-executes the container-decode + perceptual-hash
    pass exactly ONCE from the fixture rows. r15's mark-only
    re-assertion let bench.py's untimed re-warm materialize the caches,
    leaving ZERO decode work in the timed reps — decode-path regressions
    were bench-invisible. Unpersist creates a fresh InMemoryRelation per
    call; nothing survives from any earlier execution."""
    out, cached = session_memo(spark, sf, name, build)
    for df in cached:
        df.unpersist()
        df.cache()
    return out


def neardup_pair_index(spark, sf):
    """The session's persisted NearDupPairIndex over the documents table
    (num_hashes=16, bands=4, n=2 — the q20/q56/q109 family parameters).
    Built ONCE per (session, sf) in the untimed warmup — the q101–q105
    persisted-index convention — exercising the full build/add/compact
    lifecycle (even ids built, odd ids added incrementally, then
    compacted: build(A)+add(B) must serve identically to build(A∪B),
    the property the index suite pins). The closure family (q109, q110,
    q113, q145) serves from it: candidate-pair GENERATION (shingle+md5+
    band self-join over the corpus) is the persisted artifact; the
    closures / PageRank still execute per call."""
    from ocr_vector_db_spark.operators.neardup_pair_index import (
        NearDupPairIndex,
    )

    def build():
        d = load_table(spark, sf, "documents")
        path = session_tempdir("ndpairidx_")
        idx = NearDupPairIndex.build(
            spark, d.filter(F.col("doc_id") % 2 == 0), path,
            num_hashes=16, bands=4, n=2, n_buckets=16,
        )
        idx.add(d.filter(F.col("doc_id") % 2 == 1))
        idx.compact()
        return path

    path = session_memo(spark, sf, "neardup_pair_index_path", build)
    return NearDupPairIndex.load(spark, path)
