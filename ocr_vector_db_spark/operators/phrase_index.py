"""Persisted POSITIONAL inverted index — exact phrase search at scale.

`LexicalIndex` (BM25) stores (term, id, tf): enough for bag-of-words
ranking, blind to order — it cannot distinguish "new york" from "york
new". Phrase and proximity queries need token POSITIONS in the postings
(Lucene's positional index; the reference's `plainto_tsquery` lexical
arm has the same limitation this module lifts). Layout discipline is
LexicalIndex's exactly:

  build:  one tokenize pass → postings (id, term, pos) written
          partitioned by ``bucket = pmod(xxhash64(term), n_buckets)`` —
          one row per token OCCURRENCE (parquet RLE makes the repeated
          id/term columns cheap), so the physical layout prunes any
          phrase query to its own terms' buckets.
  search: prune buckets + terms of the phrase (PartitionFilters), then
          chain equi-joins t_{j} on (id, pos == p0 + j) — each join
          handles query-term-sized slices, never the corpus. Output is
          per-doc hit count + first hit position, top-k by hits.
  add:    append the batch's postings (re-add guarded), same
          single-writer/crash-window contract as LexicalIndex.add —
          no stats table at all, so there is nothing to go stale.

Tokenization is `tfidf.words_col` (shared with LexicalIndex/BM25), so
positions here are the SAME positions q89's scan path would see, and a
DuckDB oracle can re-derive every hit from the raw text (q131).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.index_maint import PersistedIndex
from ocr_vector_db_spark.operators.lexical_index import _term_slice
from ocr_vector_db_spark.operators.tfidf import words_col


def _positional_postings(
    docs: DataFrame, n_buckets: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, term, pos, bucket) — the ONE definition of the layout."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(words_col(F.col(text_col))).alias("pos", "term"),
        )
        .select(
            "id", "term", F.col("pos").cast("int").alias("pos"),
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("bucket"),
        )
    )


class PositionalIndex(PersistedIndex):
    META = ("n_buckets",)

    def __init__(self, spark: SparkSession, path: str, n_buckets: int):
        super().__init__(spark, path)
        self.n_buckets = n_buckets

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
    ) -> "PositionalIndex":
        idx = cls._start_build(spark, path, n_buckets)
        idx._write(
            "postings",
            _positional_postings(docs, n_buckets, id_col, text_col),
            "bucket", build=True,
        )
        return idx._finish_build()

    # ---------------------------------------------------------------- reads

    def postings(self) -> DataFrame:
        # an empty build wrote no files — typed empty relation
        return self._read(
            "postings", empty="id bigint, term string, pos int, bucket bigint"
        )

    # ------------------------------------------------------------ increment

    def add(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        assume_new: bool = False,
    ) -> int:
        """Append a batch's positional postings (LexicalIndex.add parity:
        re-add guard, single-writer). Returns docs added. No stats to
        fold — nothing can go stale."""
        batch = self._unindexed(
            docs.select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("__text")),
            "id", self.postings, assume_new,
        ).cache()
        try:
            n = batch.select("id").distinct().count()  # pin pre-append
            self._write(
                "postings",
                _positional_postings(batch, self.n_buckets, "id", "__text"),
                "bucket",
            )
            return n
        finally:
            batch.unpersist()

    def _compaction(self):
        return (("postings", "bucket", self.n_buckets),)

    # -------------------------------------------------------------- search

    def phrase_search(self, phrase: str, k: int = 10) -> DataFrame:
        """(id, n_hits, first_pos, rank): docs containing the EXACT token
        sequence of ``phrase`` (under the index's tokenizer), ranked by
        hit count. The join chain anchors on the phrase's first term and
        steps j tokens forward per term — every join input is a pruned
        query-term slice; a one-term phrase degenerates to a per-doc
        count. Deterministic ties: (n_hits DESC, id)."""
        from ocr_vector_db_spark.operators.retrieval import bounded_window

        terms = [t for t in phrase.lower().split() if t]
        if not terms:
            raise ValueError("empty phrase")
        # each term re-filters the pruned scan: n small partition-pruned
        # parquet reads (one per phrase term), kept lazy so the returned
        # plan is self-contained
        pruned = _term_slice(self.postings(), terms, self.n_buckets)
        hits = (
            pruned.filter(F.col("term") == terms[0])
            .select("id", F.col("pos").alias("p0"))
        )
        for j, t in enumerate(terms[1:], start=1):
            nxt = pruned.filter(F.col("term") == t).select(
                "id", (F.col("pos") - j).alias("p0")
            )
            hits = hits.join(nxt, ["id", "p0"])
        agg = hits.groupBy("id").agg(
            F.count("*").cast("bigint").alias("n_hits"),
            F.min("p0").cast("int").alias("first_pos"),
        )
        return (
            agg.orderBy(F.desc("n_hits"), F.asc("id"))
            .limit(k)
            .select(
                "id", "n_hits", "first_pos",
                F.row_number().over(bounded_window(
                    F.col("n_hits"), F.desc("n_hits"), F.asc("id")
                )).cast("bigint").alias("rank"),
            )
        )
