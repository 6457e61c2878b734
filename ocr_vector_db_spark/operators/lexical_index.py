"""Persistent inverted index for BM25 — the sparse twin of IVFIndex.

`operators/retrieval.py::bm25_topk` tokenizes and scores the corpus per
query — correct, but a 100 TB corpus cannot be rescanned per search. The
production shape (Lucene/Elasticsearch do exactly this, and the reference's
pgvector GIN index is the same idea for jsonb) is a PERSISTED postings
table whose physical layout prunes the scan down to the query's own terms:

  build:  one tokenize pass → postings (term, id, tf, dl) written
          partitioned by `bucket = pmod(xxhash64(term), n_buckets)`, plus a
          1-row stats table (N, avgdl) — the layout IS the index, exactly
          like IVFIndex's cluster_id partitioning.
  search: `bucket IN (buckets of the query terms)` is a partition-pruned
          scan reading n_query_terms/n_buckets of the postings (check
          .explain: PartitionFilters), then `term IN (...)` row-group
          skips inside; df comes from a per-term aggregate of the pruned
          slice (broadcast). Per-query work is O(matching postings),
          independent of corpus size.

Building a search plan starts no Spark job; the caller's action is the
only one. The bucket list is `pmod(xxhash64(lit(term)), n_buckets)` per
term, which the optimizer folds into the scan's partition filter; the
postings are read with the schema of the first read of their generation
(no per-search schema inference); (N, avgdl) are literals, read on the driver
once per committed stats generation, so an add() by this or any other
writer is seen by the next search. The postings listing stays serial (no
job) while n_buckets ≤ spark.sql.sources.parallelPartitionDiscovery.threshold.

Scoring math is literally shared with the on-the-fly path — both this
module and `retrieval.bm25_scores` build their per-(doc, term)
contribution from the single `retrieval._bm25_score_cols` expression, so
the indexed and scan formulations cannot drift; a test additionally
asserts equal results.

Update story mirrors IVFIndex: append new docs' postings (and fold their
(dl, count) into stats) or rebuild per ingest batch; BM25 tolerates stale
avgdl/N between rebuilds the same way ivfflat tolerates centroid drift.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.index_maint import PersistedIndex
from ocr_vector_db_spark.operators.retrieval import (
    _bm25_score_cols,
    _dsum6,
    bounded_window,
)
from ocr_vector_db_spark.operators.tfidf import words_col


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __ws) tokenization shared by build() and add()."""
    return docs.select(
        F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("__ws")
    )


def _postings_of(toks: DataFrame, n_buckets: int) -> DataFrame:
    """(id, dl, term, tf, bucket) postings rows — the ONE definition of the
    physical layout, shared by build() and add()."""
    return (
        toks.select("id", F.size("__ws").alias("dl"),
                    F.explode("__ws").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )


def _term_slice(postings: DataFrame, terms: list[str],
                n_buckets: int) -> DataFrame:
    """The postings rows of `terms`: the buckets' partition-pruned scan,
    then the term filter. Each bucket is a foldable
    `pmod(xxhash64(lit(term)), n_buckets)` — the hash `_postings_of` lays
    out by — which the optimizer folds into the scan's partition filter, so
    building the plan starts no Spark job."""
    terms = sorted(set(terms))
    buckets = [F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets)) for t in terms]
    return (postings.filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms)))


def _read_stats(spark: SparkSession, path: str) -> DataFrame:
    """Latest-committed stats read: resolve the current generation of the
    1-row stats table (see operators/index_maint.py — the commit marker is
    atomic, so there is always exactly one readable committed version)."""
    from ocr_vector_db_spark.operators.index_maint import read_generation

    return read_generation(spark, os.path.join(path, "stats"))


def _commit_stats(
    spark: SparkSession, path: str, n_docs: int, total_dl: int, n_buckets: int
) -> tuple[str, Row]:
    """Publish a new 1-row stats table (`index_maint.publish`: every crash
    point and every concurrent read sees a complete committed version).

    Single-writer contract: concurrent `add()` calls are NOT supported —
    the read-fold-commit cycle is not transactional, so a concurrent
    writer's fold can be lost (last commit wins). Serialize index updates
    (the reference's ingest path is likewise a single batch writer).

    avgdl is one double division of the exact integer total (the same IEEE
    op AVG() performs), so build(A∪B) ≡ build(A)+add(B) to the last bit.
    Returns (committed generation dir, the row written)."""
    from ocr_vector_db_spark.operators.index_maint import publish

    row = Row(n_docs=n_docs, avgdl=total_dl / n_docs if n_docs else 0.0,
              n_buckets=n_buckets, total_dl=total_dl)
    dest = publish(spark, os.path.join(path, "stats"), spark.createDataFrame(
        [tuple(row)],
        "n_docs bigint, avgdl double, n_buckets int, total_dl bigint",
    ))
    return dest, row


class LexicalIndex(PersistedIndex):
    def __init__(self, spark: SparkSession, path: str, n_buckets: int):
        super().__init__(spark, path)
        self.n_buckets = n_buckets
        # (committed stats generation dir, its row) — see _stats_row()
        self._stats: tuple[str, Row] | None = None

    # --------------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        n_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "LexicalIndex":
        """One tokenize pass → bucketed postings + 1-row corpus stats (the
        table load() gates on, committed last).
        `n_buckets` trades pruning granularity against file count: at
        100 TB use O(1k) buckets so a 5-term query reads ≤ 5 buckets
        (~0.5% of postings) while each bucket stays multi-file splittable."""
        toks = _tokenized(docs, id_col, text_col)
        idx = cls._start_build(spark, path, n_buckets)
        idx._write("postings", _postings_of(toks, n_buckets), "bucket",
                   build=True)
        # stats over ALL docs — a zero-token doc contributes dl=0 to avgdl
        # and counts in N, matching the scan path's semantics exactly (the
        # explode above would silently drop it). total_dl is kept as an
        # EXACT integer so incremental add() folds are associative.
        row = toks.select(F.size("__ws").alias("dl")).agg(
            F.count("*").alias("n"), F.sum("dl").alias("s")
        ).head()
        idx._stats = _commit_stats(
            spark, path, int(row["n"]), int(row["s"] or 0), n_buckets
        )
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LexicalIndex":
        idx = cls(spark, path, n_buckets=0)
        idx.n_buckets = int(idx._stats_row()["n_buckets"])
        return idx

    def _stats_row(self) -> Row:
        """The committed stats row, read on the driver once per committed
        stats generation. Every commit (this object's add() or another
        writer's) publishes a new generation dir, so resolving the current
        one — a filesystem listing, not a Spark job — is enough to notice
        it. A rebuild at the same path restarts the generations and needs
        a fresh load(), as it already does for n_buckets."""
        gen = self._table_dir("stats")
        if self._stats is None or self._stats[0] != gen:
            self._stats = (gen, self.spark.read.parquet(gen).head())
        return self._stats[1]

    # ------------------------------------------------------------ increment

    def add(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        assume_new: bool = False,
    ) -> int:
        """Incremental index update, IVFIndex.add parity: append the new
        docs' postings into their buckets and fold (count, mean dl) into
        the 1-row stats. Per-term df needs NO maintenance — search derives
        it from the pruned postings slice at query time, so it is always
        exact. Returns the number of docs actually added.

        The re-add guard (`PersistedIndex._unindexed`; ``assume_new``
        skips it) keeps a re-submitted doc from double-counting its
        postings and inflating (N, avgdl, tf, df).

        Stats commit is crash-safe (`_commit_stats`); single-writer
        contract applies. If a crash lands between the postings append and
        the stats commit, the appended docs' (count, dl) fold is lost —
        stats go stale exactly the way the module docstring allows (search
        stays well-defined; `build()` restores exactness)."""
        toks = self._unindexed(_tokenized(docs, id_col, text_col), "id",
                               self.postings, assume_new)
        toks = toks.cache()  # two consumers: postings append + stats fold
        try:
            # Materialize the batch (and its stats fold) BEFORE the append:
            # the anti-join above reads the postings path, so evaluating it
            # after the append would see the batch's own rows and drop
            # everything. The head() pins the cache to the pre-append state.
            new = toks.select(F.size("__ws").alias("dl")).agg(
                F.count("*").alias("n"), F.sum("dl").alias("s")
            ).head()
            self._write("postings", _postings_of(toks, self.n_buckets),
                        "bucket")
            old = self._stats_row()
            # exact integer fold — see build(): incremental ≡ full rebuild.
            # Indexes persisted before total_dl existed reconstruct it from
            # avgdl·n (rounded; those stats were float-folded anyway) —
            # the commit below upgrades them to the exact schema.
            old_total = (
                int(old["total_dl"])
                if "total_dl" in old.__fields__ and old["total_dl"] is not None
                else int(round(float(old["avgdl"]) * int(old["n_docs"])))
            )
            self._stats = _commit_stats(
                self.spark, self.path, int(old["n_docs"]) + int(new["n"]),
                old_total + int(new["s"] or 0), self.n_buckets,
            )
            return int(new["n"])
        finally:
            toks.unpersist()

    def _compaction(self):
        # each postings bucket to one file
        return (("postings", "bucket", self.n_buckets),)

    # -------------------------------------------------------------- search

    def postings(self) -> DataFrame:
        return self._read("postings")

    def stats(self) -> DataFrame:
        return _read_stats(self.spark, self.path).select("n_docs", "avgdl")

    def search(
        self,
        query_terms: list[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """(id, bm25, rank) top-k — identical output contract (and scores)
        to retrieval.bm25_topk, but reading only the query terms' buckets."""
        pruned = _term_slice(self.postings(),
                             [t.lower() for t in query_terms], self.n_buckets)
        df_ = pruned.groupBy("term").agg(F.count("*").alias("df"))
        st = self._stats_row()
        scored = (
            pruned.join(F.broadcast(df_), "term")
            .withColumns({"n_docs": F.lit(st["n_docs"]).cast("bigint"),
                          "avgdl": F.lit(float(st["avgdl"]))})
            .groupBy("id")
            .agg(_dsum6(_bm25_score_cols(k1, b)).alias("bm25"))
            .select("id", F.round("bm25", 6).alias("bm25"))
        )
        return (
            scored.orderBy(F.desc("bm25"), F.asc("id"))
            .limit(k)
            .select(
                "id",
                "bm25",
                F.row_number()
                .over(bounded_window(F.col("bm25"), F.desc("bm25"), F.asc("id")))
                .cast("bigint")
                .alias("rank"),
            )
        )
