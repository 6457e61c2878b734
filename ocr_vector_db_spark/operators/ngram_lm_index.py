"""Persistent incremental n-gram language model — the LM sibling of
LexicalIndex (sparse BM25) and IVFIndex (dense ANN).

`operators/ngram_lm.py::bigram_cross_entropy` refits unigram + bigram
counts on every call — correct, but a training-data pipeline scores every
INCOMING batch against a stable corpus LM (CCNet's KenLM is trained once
and served for months); a 100 TB corpus cannot be re-counted per batch.
The production shape is the persisted-index discipline of
`operators/lexical_index.py`:

  build:  one tokenize pass → bigram pair counts (tok_a, tok_b, cnt)
          written partitioned by ``bucket = pmod(xxhash64(tok_a, tok_b),
          n_buckets)`` and unigram counts (tok, cnt) partitioned by
          ``ubucket = pmod(xxhash64(tok), n_buckets)`` — the layout IS the
          index — plus a 1-row stats table (vocab, n_tokens, n_docs) and a
          doc-id ledger for the re-add guard.
  add:    append the NEW batch's pair/unigram count rows into their
          buckets (counts fold additively at read time — no read-modify-
          write of the big tables) and fold (vocab, n_tokens, n_docs) into
          the stats with EXACT integer arithmetic: the vocab delta is the
          batch's distinct tokens anti-joined against the indexed vocab
          (partition-pruned to the batch's own buckets), so
          build(A)+add(B) ≡ build(A∪B) to the last bit.
  score:  only the batch is tokenized; the pair join reads the batch's
          own buckets of the pair table (partition-pruned scan, check
          PartitionFilters), folds the appended rows per pair, and joins
          on the pair key; unigram context counts come from the batch's
          token buckets, semi-joined down to the batch's tokens and
          broadcast. Per-batch work is O(batch + matching counts),
          independent of corpus size.

Scoring math is byte-identical to the refit path: the same add-one-
smoothed p(b|a) = (c(ab)+1)/(c(a)+V), the same 6-dp round before the
decimal sum (ngram_lm.bigram_cross_entropy's discipline), and exact
integer count folds — so an incrementally-built index scores exactly what
a full refit scores (q123's oracle is q118's SQL, unchanged).

Reference parity: the reference scores quality with heuristic ratios
(shared/text_utils.py) and has no LM index; this is the LLM-pipeline
extension rung (CCNet, Wenzek et al. 2020) over the same persisted-index
pattern as its pgvector ivfflat/GIN indexes (storage/schema.py:38-41).

Single-writer contract (same as LexicalIndex): concurrent add() calls can
lose a stats fold — serialize index updates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.index_maint import PersistedIndex
from ocr_vector_db_spark.operators.ngram_lm import _tokens_arr, adjacent_bigrams


def _pair_bucket(n_buckets: int):
    return F.pmod(F.xxhash64("tok_a", "tok_b"), F.lit(n_buckets))


def _tok_bucket(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def _pair_counts_of(docs: DataFrame, id_col: str, text_col: str,
                    n_buckets: int) -> DataFrame:
    """(tok_a, tok_b, cnt, bucket) — the ONE definition of the pair-table
    layout, shared by build() and add()."""
    return (
        adjacent_bigrams(docs, text_col, id_col)
        .groupBy("tok_a", "tok_b").agg(F.count("*").alias("cnt"))
        .withColumn("bucket", _pair_bucket(n_buckets))
    )


def _unigram_counts_of(docs: DataFrame, text_col: str,
                       n_buckets: int) -> DataFrame:
    """(tok, cnt, ubucket) — the ONE definition of the unigram layout."""
    return (
        docs.select(F.explode(_tokens_arr(F.col(text_col))).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("cnt"))
        .withColumn("ubucket", _tok_bucket("tok", n_buckets))
    )


class NgramLMIndex(PersistedIndex):
    """Persisted add-one-smoothed bigram LM with incremental count folds."""

    STATS_SCHEMA = ("vocab bigint, n_tokens bigint, n_bigrams bigint, "
                    "n_docs bigint, n_buckets int")

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
    ) -> "NgramLMIndex":
        """One tokenize pass → bucketed pair + unigram counts, doc-id
        ledger, then the 1-row stats (the table load() gates on).
        `n_buckets` trades pruning granularity against file count exactly
        like LexicalIndex (O(1k) at 100 TB)."""
        idx = cls._start_build(spark, path, n_buckets)
        idx._write("pairs", _pair_counts_of(docs, id_col, text_col, n_buckets),
                   "bucket", build=True)
        idx._write("unigrams", _unigram_counts_of(docs, text_col, n_buckets),
                   "ubucket", build=True)
        idx._write("docs", docs.select(F.col(id_col).alias("id")),
                   build=True)
        # exact integer stats from the just-written layouts (reading back
        # beats recomputing the token stream a third time)
        uni = idx.unigrams()
        row = uni.agg(F.count("*").alias("v"), F.sum("cnt").alias("s")).head()
        nbg = int(
            idx.pairs().agg(F.sum("cnt").alias("s")).head()["s"] or 0
        )
        idx._publish("stats", spark.createDataFrame(
            [(int(row["v"]), int(row["s"] or 0), nbg, docs.count(),
              n_buckets)],
            cls.STATS_SCHEMA,
        ))
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "NgramLMIndex":
        idx = cls(spark, path, 0)
        idx.n_buckets = int(idx.stats().head()["n_buckets"])
        return idx

    # ---------------------------------------------------------------- reads

    def pairs(self) -> DataFrame:
        return self._read("pairs")

    def unigrams(self) -> DataFrame:
        return self._read("unigrams")

    def doc_ids(self) -> DataFrame:
        return self._read("docs")

    def stats(self) -> DataFrame:
        return self._read("stats")

    # ------------------------------------------------------------ increment

    def add(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        assume_new: bool = False,
    ) -> int:
        """Incremental LM update: append the batch's pair/unigram COUNT
        rows into their buckets (reads fold them — no rewrite of the big
        tables) and fold (vocab, n_tokens, n_docs) into the stats exactly.

        The vocab delta is the batch's distinct tokens anti-joined against
        the indexed vocab, partition-pruned to the batch tokens' own
        ubuckets — an exact integer fold, so incremental ≡ full rebuild.

        The re-add guard checks the doc ledger (``assume_new`` skips it).
        Crash between the count appends and the stats commit loses only
        the stats fold (scores drift the way stale avgdl does for BM25;
        ``build()`` restores exactness). Returns docs actually added."""
        docs = self._unindexed(
            docs, id_col,
            lambda: self.doc_ids().withColumnRenamed("id", id_col), assume_new,
        )
        docs = docs.cache()  # consumers: 2 count layouts + ledger + stats
        try:
            n_new = docs.count()  # pins the cache pre-append
            if n_new == 0:
                return 0
            new_uni = _unigram_counts_of(docs, text_col, self.n_buckets).cache()
            try:
                urow = new_uni.agg(
                    F.count(F.lit(1)).alias("d"), F.sum("cnt").alias("s")
                ).head()
                # vocab delta BEFORE the append: batch-distinct tokens not
                # already indexed, pruned to the batch's own ubuckets
                bs = sorted(
                    r.ubucket for r in new_uni.select("ubucket").distinct().collect()
                )
                indexed_toks = (
                    self.unigrams()
                    .filter(F.col("ubucket").isin(bs))
                    .select("tok")
                )
                vocab_delta = (
                    new_uni.select("tok")
                    .join(indexed_toks, "tok", "left_anti")
                    .count()
                )
                self._write("unigrams", new_uni, "ubucket")
            finally:
                new_uni.unpersist()
            pc = _pair_counts_of(docs, id_col, text_col, self.n_buckets).cache()
            try:
                nbg_new = int(pc.agg(F.sum("cnt").alias("s")).head()["s"] or 0)
                self._write("pairs", pc, "bucket")
            finally:
                pc.unpersist()
            self._write("docs", docs.select(F.col(id_col).alias("id")))
            old = self.stats().head()
            self._publish(
                "stats",
                self.spark.createDataFrame(
                    [(
                        int(old["vocab"]) + int(vocab_delta),
                        int(old["n_tokens"]) + int(urow["s"] or 0),
                        int(old["n_bigrams"]) + nbg_new,
                        int(old["n_docs"]) + n_new,
                        self.n_buckets,
                    )],
                    self.STATS_SCHEMA,
                )
            )
            return n_new
        finally:
            docs.unpersist()

    # ---------------------------------------------------------- maintenance

    def compact(self) -> int:
        """Fold the appended count rows: re-aggregate each table so every
        (pair)/(tok) key holds ONE row and each bucket ONE file, published
        as new generations (scores are unchanged because reads always
        fold). Returns the pair-table row count."""
        n_pairs = self._rewrite("pairs", self.pairs().groupBy(
            "bucket", "tok_a", "tok_b").agg(F.sum("cnt").alias("cnt")),
            "bucket", self.n_buckets)
        self._rewrite("unigrams", self.unigrams().groupBy("ubucket", "tok")
                      .agg(F.sum("cnt").alias("cnt")),
                      "ubucket", self.n_buckets)
        self._rewrite("docs", self.doc_ids(), None, 1)
        return n_pairs

    # ------------------------------------------------------------------ pmi

    def pmi_topk(self, min_count: int = 5, top_k: int = 100) -> DataFrame:
        """(tok_a, tok_b, pair_count, pmi): the corpus's strongest adjacent
        collocations served FROM THE PERSISTED COUNTS — byte-identical to
        `ngram_lm.pmi_collocations` on the same corpus (same ln-association
        order, same 6-dp round), without re-tokenizing anything: one fold
        over the pair table (corpus-level mining reads it all, but it is
        Heaps'-bounded ≪ the corpus), the vocab-sized unigram fold
        broadcast onto it, scalars from the 1-row stats. Incremental adds
        keep every input exact (integer count folds), so the index-served
        PMI tracks the corpus with no refit."""
        st = self.stats().head()
        n_tok = float(int(st["n_tokens"]))
        n_pairs = float(int(st["n_bigrams"]))
        bgc = (
            self.pairs().groupBy("tok_a", "tok_b")
            .agg(F.sum("cnt").alias("pair_count"))
            .filter(F.col("pair_count") >= min_count)
        )
        # fold the unigram table ONCE, cached for its two broadcast
        # consumers and released after the <= top_k result materializes —
        # pmi_collocations' discipline
        uni = (self.unigrams().groupBy("tok")
               .agg(F.sum("cnt").alias("cnt")).cache())
        ua = uni.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("__ca"))
        ub = uni.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("__cb"))
        pmi = F.round(
            F.log(F.col("pair_count").cast("double"))
            - F.log(F.lit(n_pairs))
            - F.log(F.col("__ca").cast("double"))
            - F.log(F.col("__cb").cast("double"))
            + F.lit(2.0) * F.log(F.lit(n_tok)),
            6,
        )
        try:
            return (
                bgc.join(F.broadcast(ua), "tok_a")
                .join(F.broadcast(ub), "tok_b")
                .select("tok_a", "tok_b", "pair_count", pmi.alias("pmi"))
                .orderBy(F.desc("pmi"), "tok_a", "tok_b")
                .limit(top_k)
                .localCheckpoint()
            )
        finally:
            uni.unpersist()

    # -------------------------------------------------------------- scoring

    def score_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """(id_col, n_bigrams, avg_neg_logprob): each batch document's
        cross-entropy under the PERSISTED corpus LM — same output contract
        and byte-identical math as ngram_lm.bigram_cross_entropy, but only
        the batch is tokenized and only the batch's own buckets of the
        count tables are read (partition-pruned scans).

        Unseen pairs/contexts score with c=0 (the add-one smoothing is
        exactly what makes that well-defined) — so a NEW batch can be
        scored before it is added; scoring a batch that IS in the corpus
        reproduces the refit path bit-for-bit. Docs with < 2 tokens emit
        no row (no bigram evidence), matching the refit path."""
        bg = adjacent_bigrams(docs, text_col, id_col)
        batch_pairs = bg.select("tok_a", "tok_b").distinct().withColumn(
            "bucket", _pair_bucket(self.n_buckets)
        )
        # bucket lists collect as ≤ n_buckets ints (two small driver jobs
        # at plan-build time — LexicalIndex.search's discipline); the
        # returned plan itself stays fully lazy and uncached, because the
        # result is batch-sized and the batch can be the whole corpus
        # (bigram_cross_entropy's leak finding)
        pbs = sorted(
            r.bucket for r in batch_pairs.select("bucket").distinct().collect()
        )
        # pair counts: prune to the batch's buckets, fold appended rows,
        # semi-join down to the batch's own pairs, then shuffle equi-join
        # onto the per-doc bigram stream (refit discipline: the pair table
        # is never broadcast; stopword-pair skew is AQE's job). The
        # semi-join carries NO broadcast hint: the batch's distinct-pair
        # set is batch-sized, and the batch may be the whole corpus
        # (q123), where a forced broadcast would ship the entire bigram
        # vocabulary — AQE picks broadcast itself when the side is small
        cab = (
            self.pairs()
            .filter(F.col("bucket").isin(pbs))
            .join(batch_pairs.select("tok_a", "tok_b"),
                  ["tok_a", "tok_b"], "left_semi")
            .groupBy("tok_a", "tok_b").agg(F.sum("cnt").alias("__cab"))
        )
        # context counts: prune to the batch tokens' ubuckets, fold,
        # semi-join to the batch's tokens, broadcast (batch-bounded)
        batch_toks = batch_pairs.select(
            F.col("tok_a").alias("tok")
        ).distinct().withColumn("ubucket", _tok_bucket("tok", self.n_buckets))
        ubs = sorted(
            r.ubucket for r in batch_toks.select("ubucket").distinct().collect()
        )
        ua = (
            self.unigrams()
            .filter(F.col("ubucket").isin(ubs))
            .join(batch_toks.select("tok"), "tok", "left_semi")
            .groupBy("tok").agg(F.sum("cnt").alias("__ca"))
            .select(F.col("tok").alias("tok_a"), "__ca")
        )
        v = float(self.stats().head()["vocab"])
        # identical expression structure to the refit path (int + int
        # literal, one cast to double per operand, round 6 before the
        # decimal sum) so the doubles are the same bits
        nlp = F.round(
            -F.log(
                (F.coalesce(F.col("__cab"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.coalesce(F.col("__ca"), F.lit(0)) + F.lit(v)).cast("double")
            ),
            6,
        )
        scored = (
            bg.join(cab, ["tok_a", "tok_b"], "left")
            .join(F.broadcast(ua), "tok_a", "left")
            .select(id_col, nlp.alias("__nlp"))
        )
        return scored.groupBy(id_col).agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__nlp").cast("decimal(28,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_neg_logprob"),
        )
