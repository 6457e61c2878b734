"""Persisted SimHash index — the Hamming-space sibling of MinHashIndex.

`dedup.simhash_near_dup_pairs` (q88) self-joins one corpus's pigeonhole
bands: right for a one-shot pass, wrong for ingestion — every new batch
must screen against the FULL historical corpus without re-hashing it.
Same persisted-signature discipline as MinHashIndex (which see for the
append-ordering and crash-window rationale):

  build:  one SimHash pass → signatures (doc, simhash) plus banding rows
          (doc, band, val) written partitioned by
          ``bucket = pmod(xxhash64(band, val), n_buckets)`` — the r+1
          pigeonhole bands of `dedup.simhash_band_widths`, so two
          signatures within Hamming distance r MUST collide on ≥ 1 stored
          band row.
  add:    append the accepted batch's signatures + bands (re-add guarded).
  screen: hash ONLY the new batch (O(batch)), equi-join its band rows
          against the stored layout on (bucket, band, val) — co-keyed with
          the physical partitioning, bucket-pruned for small batches —
          then verify candidates exactly with
          bit_count(sig_new XOR sig_corpus) ≤ r. Nothing all-pairs,
          nothing corpus-rescanned.
  dedup_new: the ingestion gate — batch docs with NO indexed signature
          within Hamming r.

Hashing is the exact scheme of `dedup.simhash_col` (md5 hex-digit parity
majority votes), so the screen is oracle-reproducible: q127 is q88's SQL
machinery restricted to cross-side (new × indexed) pairs.

MinHash vs SimHash as the gate: MinHash estimates set-Jaccard (robust to
length skew, tunable via bands×rows); SimHash is a single 64-bit word per
doc with EXACT Hamming verification — 8 bytes of state and a bit_count
per candidate, the cheaper screen when "near-dup" means tiny edits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.dedup import (
    simhash_band_widths,
    simhash_col,
)
from ocr_vector_db_spark.operators.minhash_index import BandedSignatureIndex


def _sigs_of(docs: DataFrame, bits: int, id_col: str,
             text_col: str) -> DataFrame:
    from ocr_vector_db_spark.session import spread_for_compute

    # tokenize+md5 per token is the expensive map stage of every
    # build/add/screen — floor its parallelism (no-op when the batch
    # already arrives in >= defaultParallelism splits; guide §2)
    return spread_for_compute(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"),
        simhash_col(F.col(text_col), bits).alias("simhash"),
    )


def _bands_of(sig: DataFrame, bits: int, r: int, n_buckets: int,
              extra: tuple = ()) -> DataFrame:
    """(doc, *extra, band, val, bucket) — the ONE definition of the banded
    layout, shared by build/add (store side) and screen (batch side).
    `extra` columns (e.g. a frame-position alignment key) ride through."""
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.shiftright(F.col("simhash"), lo)
            .bitwiseAND(F.lit((1 << w) - 1)).alias("val"),
        )
        for j, (lo, w) in enumerate(simhash_band_widths(bits, r))
    ]
    return (
        sig.select("doc", *extra,
                   F.explode(F.array(*band_structs)).alias("b"))
        .select("doc", *extra, F.col("b.band").alias("band"),
                F.col("b.val").alias("val"))
        .withColumn(
            "bucket", F.pmod(F.xxhash64("band", "val"), F.lit(n_buckets))
        )
    )


def simhash_pairs_from_sigs(
    sigs: DataFrame, bits: int, r: int,
    align_col: str | None = None,
) -> DataFrame:
    """Intra-batch near-dup pairs over PRECOMPUTED signatures: banded
    self-join of (doc, simhash[, align_col]) rows → (doc_a < doc_b
    [, align_col], hamming ≤ r), exactly the brute-force pairs (the
    pigeonhole bands of `simhash_band_widths` guarantee a candidate for
    every pair within r; exact bit_count verifies each).

    This is the signatures-once half of the streaming gates: the gate
    computes ONE signature DataFrame per micro-batch and derives its
    keep-min drop set here instead of re-hashing raw bytes. With
    `align_col` (the video path: doc = video id, align = sampled frame
    position) the alignment value joins INTO the candidate key and the
    signature re-attach, so only same-position frames ever meet — the
    sig-grain twin of `image_hash.phash_near_dup_pairs(align_col=...)`.

    Scale shape: r+1 slim rows per signature, one shuffle on the band
    value, candidates DISTINCT before the signatures re-attach."""
    al = [align_col] if align_col else []
    bands = _bands_of(sigs, bits, r, 1, extra=tuple(al)).drop("bucket")
    cand = (
        bands.alias("x").join(bands.alias("y"), ["band", "val", *al])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"),
                F.col("y.doc").alias("doc_b"), *al)
        .dropDuplicates(["doc_a", "doc_b", *al])
    )
    sig_a = sigs.select(F.col("doc").alias("doc_a"), *al,
                        F.col("simhash").alias("sig_a"))
    sig_b = sigs.select(F.col("doc").alias("doc_b"), *al,
                        F.col("simhash").alias("sig_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.join(sig_a, ["doc_a", *al]).join(sig_b, ["doc_b", *al])
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= r)
        .select("doc_a", "doc_b", *al, "hamming")
    )


class SimHashIndex(BandedSignatureIndex):
    META = ("bits", "r", "n_buckets")
    BAND_COLS = "band int, val bigint, bucket bigint"

    def __init__(self, spark: SparkSession, path: str, bits: int, r: int,
                 n_buckets: int):
        super().__init__(spark, path)
        self.bits = bits
        self.r = r
        self.n_buckets = n_buckets

    # ------------------------------------------------------------ signature

    def _sig_expr(self, docs: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
        """docs → (doc, simhash) — the ONE place a subclass swaps the
        signature function while keeping the banded layout, append
        ordering, re-add guard, compaction and screen verification
        (image_hash.PhashIndex: 64-bit dHash over raster frames). Must
        return a bigint `simhash` whose Hamming distance is the
        near-dup metric."""
        return _sigs_of(docs, self.bits, id_col, text_col)

    def _bands(self, sig: DataFrame) -> DataFrame:
        return _bands_of(sig, self.bits, self.r, self.n_buckets)

    def _sig_asset_id(self, doc: F.Column) -> F.Column:
        """Map a signature `doc` value to the batch asset id it belongs
        to. Identity everywhere except composite-doc indexes
        (VideoFpIndex: `video_id#000000idx` frame docs)."""
        return doc

    def batch_dropped_ids(self, sigs: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
        """Asset ids to DROP from a batch under the keep-min convention
        — every doc with a LOWER-id near-dup (Hamming ≤ r) among the
        batch's own precomputed signatures. One banded self-join; no
        re-hash. Subclasses with coarser asset grain (video) override."""
        pairs = simhash_pairs_from_sigs(sigs, self.bits, self.r)
        return pairs.select(F.col("doc_b").alias(id_col)).distinct()

    def restrict_sigs(self, sigs: DataFrame, ids: DataFrame,
                      id_col: str = "doc_id",
                      anti: bool = False) -> DataFrame:
        """Restrict a precomputed signature DataFrame to (or away from,
        `anti=True`) the asset ids in `ids[id_col]` — the gate's way of
        deriving kept/fresh signature sets from the one batch
        computation (video: matches every frame doc of each asset)."""
        keyed = sigs.withColumn("__aid", self._sig_asset_id(F.col("doc")))
        out = keyed.join(
            ids.select(F.col(id_col).alias("__aid")),
            "__aid", "left_anti" if anti else "left_semi",
        )
        return out.drop("__aid")

    # --------------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        bits: int = 16,
        r: int = 2,
        n_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "SimHashIndex":
        return cls._start_build(spark, path, bits, r, n_buckets)._build(
            docs, id_col, text_col
        )

    # -------------------------------------------------------------- screen

    def screen(
        self,
        new_docs: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        sigs: DataFrame | None = None,
    ) -> DataFrame:
        """(new_id, corpus_id, hamming) — every new-batch doc within
        Hamming ≤ r of an INDEXED signature. EXACT within the radius: the
        pigeonhole guarantee means no candidate is missed, and bit_count
        verification filters the band collisions. Only the batch is
        hashed (or not at all, when precomputed `sigs` are passed); the
        corpus side is the slim band equi-join (keyed like the stored
        partitioning) + a signature join on candidates only."""
        # the batch signature frame is referenced twice (band rows + the
        # sig_a verify re-attach); re-hashing the batch once per reference
        # is O(batch), accepted. A lazy localCheckpoint was tried in
        # optimization r15 and REVERTED: hiding the batch side behind an
        # RDD scan disables the dynamic partition pruning that restricts
        # the stored bands scan to the batch's own buckets (the q105
        # finding, same layout here). Callers passing precomputed `sigs`
        # (the signatures-once streaming seam) manage their own reuse.
        new_sig = sigs if sigs is not None else self._sig_expr(
            new_docs, id_col, text_col
        )
        new_banded = self._bands(new_sig)
        cand = (
            new_banded.alias("x")
            .join(self.bands_table().alias("y"), ["bucket", "band", "val"])
            .select(F.col("x.doc").alias("new_id"),
                    F.col("y.doc").alias("corpus_id"))
            .dropDuplicates(["new_id", "corpus_id"])
        )
        sig_a = new_sig.select(F.col("doc").alias("new_id"),
                               F.col("simhash").alias("sig_a"))
        sig_b = self.signatures().select(F.col("doc").alias("corpus_id"),
                                         F.col("simhash").alias("sig_b"))
        hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        return (
            cand.join(sig_a, "new_id")
            .join(sig_b, "corpus_id")
            .withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= self.r)
            .select("new_id", "corpus_id", "hamming")
        )

    def dedup_new(
        self,
        new_docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        sigs: DataFrame | None = None,
    ) -> DataFrame:
        """The ingestion gate: batch docs with NO indexed signature within
        Hamming r. `add` the result to accept survivors (MinHashIndex
        scope note applies: intra-batch dups are the one-shot problem).
        Precomputed `sigs` skip the batch re-hash."""
        dupes = (
            self.screen(new_docs, id_col, text_col, sigs=sigs)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        return new_docs.join(dupes, id_col, "left_anti")
