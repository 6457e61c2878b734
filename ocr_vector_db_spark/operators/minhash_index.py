"""Persisted MinHash-LSH index — the dedup sibling of LexicalIndex/IVFIndex.

`dedup.minhash_lsh_candidates` (q20) self-joins one corpus's bands: the
right tool for a one-shot dedup pass. Incremental INGESTION needs a
different shape — every new batch must dedup against the FULL historical
corpus, and rescanning (re-shingling, re-hashing) 100 TB of text per batch
is not a plan. The production shape (how CCNet/RefinedWeb-style pipelines
and the reference's pre-write `doc_id` dedup, storage/vector_store.py,
generalize to near-dups) is a PERSISTED signature store:

  build:  one shingle+hash pass → signatures (doc, mh_0..mh_{K-1}) plus
          banding rows (doc, band_id, band_hash) written partitioned by
          `bucket = pmod(xxhash64(band_hash), n_buckets)`;
  add:    append the accepted batch's signatures + bands (re-add guarded);
  screen: hash ONLY the new batch (O(batch), never O(corpus)), equi-join
          its bands against the stored layout on (bucket, band_id,
          band_hash) — co-partitioned by construction, and for small
          batches the bucket column partition-prunes the read — then
          estimate Jaccard from the two signature tables on candidates
          only. Nothing all-pairs, nothing corpus-rescanned.
  dedup_new: the ingestion gate — keep only batch docs with NO indexed
          near-dup above the threshold, then `add` the survivors.

Hashing is the exact scheme of dedup.minhash_signatures (md5-salted
string-min slots), so the screen result is oracle-reproducible (q105 uses
q20's SQL machinery restricted to cross-side pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.dedup import banded_of, minhash_signatures
from ocr_vector_db_spark.operators.index_maint import PersistedIndex


class BandedSignatureIndex(PersistedIndex):
    """A signature table (doc, …) plus its banding rows partitioned by
    `bucket` — the layout MinHashIndex and SimHashIndex share. Subclasses
    supply the signature function `_sig_expr(docs, id_col, text_col)`, the
    band rows `_bands(sig)` and the band columns of an empty layout
    (`BAND_COLS`, a DDL string)."""

    def _build(self, docs: DataFrame, id_col: str, text_col: str):
        # cache: _append consumes sig twice (bands + signatures writes);
        # uncached, the signature pass would run twice
        sig = self._sig_expr(docs, id_col, text_col).cache()
        try:
            sig.count()
            self._append(sig, build=True)
        finally:
            sig.unpersist()
        return self._finish_build()

    def signatures(self) -> DataFrame:
        return self._read("signatures")

    def signatures_of(self, docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
        """Public signatures-once seam: ONE signature DataFrame for a
        batch, reusable (localCheckpoint it) across the batch's own
        near-dup pass, `screen(sigs=)`, `dedup_new(sigs=)` and
        `add(sigs=)` — the streaming gates hash each micro-batch once
        instead of three times."""
        return self._sig_expr(docs, id_col, text_col)

    def bands_table(self) -> DataFrame:
        # an EMPTY build's partitionBy write leaves no band files —
        # synthesize the typed empty relation so screen()/add() work on a
        # fresh index that the stream itself will populate
        return self._read("bands", empty=lambda: self.spark.createDataFrame(
            [], f"doc {self.signatures().schema['doc'].dataType.simpleString()}"
                f", {self.BAND_COLS}"
        ))

    def _append(self, sig: DataFrame, build: bool = False) -> None:
        """Bands FIRST, signatures second — deliberately. add()'s re-add
        anti-join reads {path}/signatures, and Spark invalidates cached
        plans that reference a path when that path is written; writing
        signatures first would therefore recompute `sig` for the bands
        write WITH the batch already appended, anti-join everything away,
        and silently write zero band rows. The bands path is not read by
        the plan, so its write leaves the cache intact. (Crash between the
        two appends leaves band rows whose signatures are missing: they
        can never produce a screen hit — the signature join is inner — and
        the re-add guard keys on signatures, so a retried add() re-appends
        the batch cleanly; duplicate band rows collapse in screen()'s
        dropDuplicates.)"""
        self._write("bands", self._bands(sig), "bucket", build)
        self._write("signatures", sig, build=build)

    def add(
        self,
        docs: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        assume_new: bool = False,
        sigs: DataFrame | None = None,
    ) -> int:
        """Append a batch's signatures + bands behind the re-add guard
        (`assume_new` skips it; streaming ingestion at scale delegates
        replay safety to `index_maint.EpochLedger`, see
        `streaming.pipeline.stream_ingest_deduped`). Returns the number of
        docs added. Precomputed `sigs` (a `signatures_of` result) skip
        re-hashing `docs`. Single-writer contract."""
        sig = sigs if sigs is not None else self._sig_expr(
            docs, id_col, text_col
        )
        sig = self._unindexed(sig, "doc", self.signatures, assume_new).cache()
        try:
            n = sig.count()  # materialize before the append (self-read)
            self._append(sig)
            return n
        finally:
            sig.unpersist()

    def _compaction(self):
        # each band bucket to one file, the signatures to a bounded count
        return (("bands", "bucket", self.n_buckets),
                ("signatures", None, max(self.n_buckets // 4, 1)))


class MinHashIndex(BandedSignatureIndex):
    META = ("num_hashes", "bands", "n", "n_buckets")
    BAND_COLS = "band_id int, band_hash string, bucket bigint"

    def __init__(self, spark: SparkSession, path: str, num_hashes: int,
                 bands: int, n: int, n_buckets: int):
        super().__init__(spark, path)
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.n_buckets = n_buckets

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        num_hashes: int = 16,
        bands: int = 4,
        n: int = 2,
        n_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "MinHashIndex":
        assert num_hashes % bands == 0
        return cls._start_build(
            spark, path, num_hashes, bands, n, n_buckets
        )._build(docs, id_col, text_col)

    def _sig_expr(self, docs: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
        return minhash_signatures(docs, self.num_hashes, self.n,
                                  text_col, id_col)

    def _bands(self, sig: DataFrame) -> DataFrame:
        return banded_of(sig, self.num_hashes, self.bands).withColumn(
            "bucket", F.pmod(F.xxhash64("band_hash"), F.lit(self.n_buckets))
        )

    # -------------------------------------------------------------- screen

    def screen(
        self,
        new_docs: DataFrame | None = None,
        threshold: float | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        sigs: DataFrame | None = None,
    ) -> DataFrame:
        """(new_id, corpus_id, est_jaccard) candidates of the new batch vs
        the INDEXED corpus. Only the batch is shingled/hashed (or not at
        all, with precomputed `sigs`); the corpus side is two reads of
        the persisted layout (bands: slim equi-join keyed exactly like
        the stored partitioning; signatures: joined on candidate ids
        only). `threshold` filters est_jaccard >= t."""
        # no cache: the returned plan is lazy, so nothing would materialize
        # it here, and a cache with no unpersist would leak one entry per
        # screen() call in a long-lived ingestion loop. The plan references
        # new_sig twice (bands + signature join) — recomputing the batch's
        # shingle pass twice inside one job is O(batch), acceptable (zero
        # with checkpointed `sigs`). A lazy localCheckpoint here was tried
        # in optimization r15 and REVERTED: hiding the batch side behind an
        # RDD scan disables the dynamic partition pruning that restricts
        # the stored bands scan to the batch's own buckets (test_plan_shapes
        # gates it on q105) — at 100 TB the pruned index scan is worth far
        # more than one batch re-hash.
        new_sig = sigs if sigs is not None else self._sig_expr(
            new_docs, id_col, text_col
        )
        new_banded = self._bands(new_sig)
        cand = (
            new_banded.alias("x")
            .join(self.bands_table().alias("y"),
                  ["bucket", "band_id", "band_hash"])
            .select(F.col("x.doc").alias("new_id"),
                    F.col("y.doc").alias("corpus_id"))
            .dropDuplicates(["new_id", "corpus_id"])
        )
        sig_a = new_sig.select(
            F.col("doc").alias("new_id"),
            *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(self.num_hashes)],
        )
        sig_b = self.signatures().select(
            F.col("doc").alias("corpus_id"),
            *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(self.num_hashes)],
        )
        agree = sum(
            F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
            for i in range(self.num_hashes)
        )
        out = (
            cand.join(sig_a, "new_id")
            .join(sig_b, "corpus_id")
            .withColumn(
                "est_jaccard",
                F.round(agree / F.lit(float(self.num_hashes)), 6),
            )
            .select("new_id", "corpus_id", "est_jaccard")
        )
        if threshold is not None:
            out = out.filter(F.col("est_jaccard") >= threshold)
        return out

    def dedup_new(
        self,
        new_docs: DataFrame,
        threshold: float = 0.8,
        id_col: str = "doc_id",
        text_col: str = "text",
        sigs: DataFrame | None = None,
    ) -> DataFrame:
        """The ingestion gate: batch docs with NO indexed near-dup at
        est_jaccard >= threshold. Call `add` on the result to accept the
        survivors into the index. Precomputed `sigs` skip the batch
        re-hash.

        Scope: gates the batch against the CORPUS only. Near-dups WITHIN
        the batch are the one-shot problem — run
        `dedup.minhash_lsh_candidates` on the batch first (q20), or accept
        that intra-batch dups resolve on the NEXT batch's screen once the
        first copy is indexed."""
        dupes = (
            self.screen(new_docs, threshold, id_col, text_col, sigs=sigs)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        return new_docs.join(dupes, id_col, "left_anti")
