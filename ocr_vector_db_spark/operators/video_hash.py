"""Video-level near-duplicate detection: frame-sampled perceptual hashes.

Completes the multimodal real-math triple (images: `image_hash.py`, audio:
`audio_fingerprint.py`): a raw video column is a concatenation of raw
raster frames, so the "frame-sample" operator the multimodal brief lists is
a binary SLICE (byte-offset substring — no decoder), and everything
downstream is the certified image stack — `dhash_signatures`' scanline
discipline per sampled frame, and the nibble-pigeonhole banding for pairs.

A 100 TB video corpus carries the same clip re-encoded (brightness/contrast
shifts), re-scaled, and re-containered — all invisible to byte dedup. The
screen here is temporal + perceptual: sample every k-th frame, dHash each
sampled frame, and call two videos near-dups when ≥ `min_frac` of their
ALIGNED sampled positions are within Hamming r (re-encodes and re-scales
match at every position; different cuts of the same footage match at most
positions; unrelated clips match nowhere).

Scale shape:

  1. frame-sample explode: n_frames/k slim rows per video, each carrying
     ONE frame's bytes via a byte-offset `substring` on the binary column
     (an O(frame) array copy — binary substring never scans like UTF8
     substring does);
  2. per sampled frame, the image hasher's certified shape (hex once per
     frame, scanline explode, map-side cell partials, one grid-grain
     exchange) — the pixel grain never shuffles;
  3. pair candidates from an equi-join keyed (frame_idx, band, band_value)
     — the ALIGNMENT is in the join key, so only same-position frames ever
     meet, and each candidate verifies with the exact XOR bit_count;
  4. per-pair match counting is a distinct + one aggregate at the
     (video, video) grain; sampled-frame counts broadcast back.

Compressed containers (mp4/webm) need a real decoder first — that is
`multimodal.extract_features`'s pluggable seam (`frame_sample_plan` plans
the sampling for decoded streams); THIS module is the post-decode math.
Reference parity: the reference has no video path at all; this is the
dedup × multimodal-columns brief for the video column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.image_hash import (
    dhash_signatures,
    phash_near_dup_pairs,
)
from ocr_vector_db_spark.operators.simhash_index import SimHashIndex


def asset_video_frames(assets: DataFrame, every: int = 1) -> DataFrame:
    """Project `multimodal.ASSET_SCHEMA` raw-video rows (kind=video,
    format=raw, gray frames: metadata width/height/n_frames/channels=1,
    `data` = n_frames row-major frame buffers back to back) to one row
    per SAMPLED frame: (asset_id, frame_idx, data, width, height) — the
    exact shape `image_hash.dhash_signatures` / `resize_raster` consume.

    `every` is the sampling stride (the real "frame-sample" operator:
    every k-th frame, always including frame 0). Rows whose byte length
    disagrees with width×height×n_frames are dropped like malformed
    rasters; compressed containers wait for the decode seam."""
    if every < 1:
        raise ValueError("every must be >= 1")
    md = F.col("metadata")
    w = md["width"].cast("int")
    h = md["height"].cast("int")
    nf = md["n_frames"].cast("int")
    fsz = (w.cast("long") * h).cast("long")
    src = assets.filter(
        (F.col("kind") == "video")
        & (md["format"] == "raw")
        & (md["channels"] == "1")
        & (F.length("data") == fsz * nf)
        & (nf >= 1)
    ).select(
        "asset_id", "data", w.alias("width"), h.alias("height"),
        nf.alias("nf"), fsz.alias("fsz"),
    )
    idx = F.explode(
        F.sequence(F.lit(0), F.col("nf") - 1, F.lit(every))
    ).alias("frame_idx")
    return src.select("asset_id", "width", "height", "fsz", "data", idx) \
        .select(
            "asset_id", "frame_idx",
            F.col("data").substr(
                (F.col("frame_idx") * F.col("fsz") + 1).cast("int"),
                F.col("fsz").cast("int"),
            ).alias("data"),
            "width", "height",
        )


def video_frame_signatures(
    frames: DataFrame, id_col: str = "asset_id"
) -> DataFrame:
    """(asset_id, frame_idx, dhash) — the image dHash per sampled frame.
    The composite row identity rides through the hasher as one string id
    and splits back out (frame indexes are zero-padded so the hasher's
    string grouping can never collide across videos)."""
    fid = F.concat_ws(
        "#", F.col(id_col),
        F.lpad(F.col("frame_idx").cast("string"), 9, "0"),
    )
    sigs = dhash_signatures(
        frames.select(fid.alias("fid"), "data", "width", "height"),
        id_col="fid",
    )
    # split from the RIGHT (fixed-width frame suffix), so an asset_id
    # that itself contains '#' round-trips intact
    return sigs.select(
        F.substring(F.col("id"), 1, F.length("id") - 10).alias(id_col),
        F.substring(F.col("id"), -9, 9).cast("int").alias("frame_idx"),
        "dhash",
    )


def video_near_dup_pairs(
    vsigs: DataFrame,
    r: int = 4,
    min_frac: float = 0.6,
    id_col: str = "asset_id",
) -> DataFrame:
    """Pairs (id_a < id_b, matched, n_a, n_b, frac) of videos whose
    ALIGNED sampled frames agree: `matched` = sampled positions where the
    two frames are within Hamming r (exact — banded candidates, XOR
    verification), `frac` = matched / min(n_a, n_b), kept when
    frac ≥ min_frac. Inputs are `video_frame_signatures` rows; both
    videos must be sampled at the same stride for positions to align."""
    # ONE banding implementation serves images, audio and video: the
    # shared helper with frame_idx as the alignment key (banding,
    # distinct-before-reattach, XOR verify all inherited — a fix there
    # reaches every modality)
    verified = phash_near_dup_pairs(
        vsigs, r=r, id_col=id_col, sig_col="dhash",
        align_col="frame_idx",
    )
    matched = (
        verified.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("matched"))
    )
    counts = vsigs.groupBy(F.col(id_col).alias("id")).agg(
        F.count("*").alias("n")
    )
    return (
        matched
        .join(counts.select(F.col("id").alias("id_a"),
                            F.col("n").alias("n_a")), "id_a")
        .join(counts.select(F.col("id").alias("id_b"),
                            F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "frac",
            F.col("matched") / F.least("n_a", "n_b"),
        )
        .filter(F.col("frac") >= min_frac)
        .select("id_a", "id_b", "matched", "n_a", "n_b", "frac")
    )


def video_clip_frames(
    df: DataFrame, every: int = 1, id_col: str = "asset_id"
) -> DataFrame:
    """`asset_video_frames`' twin for PROJECTED clip rows (id, data,
    width, height, n_frames) — the shape the streaming gate and the
    persisted index consume (no metadata map). Same stride semantics
    and malformed-length filter."""
    if every < 1:
        raise ValueError("every must be >= 1")
    fsz = (F.col("width").cast("long") * F.col("height")).cast("long")
    src = df.filter(
        (F.col("n_frames") >= 1)
        & (F.length("data") == fsz * F.col("n_frames"))
    ).select(
        F.col(id_col).alias("asset_id"), "width", "height", "data",
        F.col("n_frames").alias("nf"), fsz.alias("fsz"),
    )
    idx = F.explode(
        F.sequence(F.lit(0), F.col("nf") - 1, F.lit(every))
    ).alias("frame_idx")
    return src.select("asset_id", "width", "height", "fsz", "data", idx) \
        .select(
            "asset_id", "frame_idx",
            F.col("data").substr(
                (F.col("frame_idx") * F.col("fsz") + 1).cast("int"),
                F.col("fsz").cast("int"),
            ).alias("data"),
            "width", "height",
        )


class VideoFpIndex(SimHashIndex):
    """Persisted video near-dup index — the third modality on
    SimHashIndex's banded machinery (PhashIndex = images, AudioFpIndex =
    audio): per-SAMPLED-FRAME dHash signatures stored as composite docs
    (`video_id#000000idx`, the 9-padded right-split convention of
    `video_frame_signatures`), so the banded layout, append ordering,
    re-add guard and compaction carry over at the frame-doc grain.

    `screen`/`dedup_new` LIFT frame hits to the VIDEO grain: a new video
    is a duplicate of an indexed one when ≥ `min_frac` of the SHORTER
    side's sampled positions match at the SAME position within Hamming
    ≤ r (`matched / min(n_new, n_corpus)` — the batch path's
    `video_near_dup_pairs` denominator, so a longer new video that
    CONTAINS an indexed shorter clip at aligned positions gates exactly
    like the one-shot pair search would pair them). The new side's
    count comes from its clip row (or its precomputed signatures); the
    corpus side's comes from the slim persisted `vcounts` table (one
    row per indexed video, appended alongside every add), so screening
    never scans the frame-grain signature table beyond the banded
    candidates. Input rows are projected clips (id, data, width,
    height, n_frames); `every` and `min_frac` persist in meta.json so
    every later screen samples identically."""

    META = (*SimHashIndex.META, "every", "min_frac")

    def __init__(self, spark, path: str, bits: int, r: int,
                 n_buckets: int, every: int = 1, min_frac: float = 0.6):
        super().__init__(spark, path, bits, r, n_buckets)
        self.every = every
        self.min_frac = min_frac

    def _sig_expr(self, docs: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
        if self.bits != 64:
            raise ValueError("VideoFpIndex is 64-bit (frame dHash)")
        vsigs = video_frame_signatures(
            video_clip_frames(docs, self.every, id_col)
        )
        fid = F.concat_ws(
            "#", F.col("asset_id"),
            F.lpad(F.col("frame_idx").cast("string"), 9, "0"),
        )
        from ocr_vector_db_spark.operators.image_hash import hex_sig_to_bigint

        return vsigs.select(
            fid.alias("doc"),
            hex_sig_to_bigint(F.col("dhash")).alias("simhash"),
        )

    def _sig_asset_id(self, doc: F.Column) -> F.Column:
        """Composite frame doc `video_id#000000idx` → video id (the
        right-split convention of `video_frame_signatures`)."""
        return F.substring(doc, 1, F.length(doc) - 10)

    def batch_dropped_ids(self, sigs: DataFrame,
                          id_col: str = "asset_id") -> DataFrame:
        """Video ids to DROP from a batch under keep-min, from the
        batch's PRECOMPUTED frame-doc signatures: aligned sig-grain pair
        search (same pigeonhole + exact verify as
        `video_near_dup_pairs`, positions in the join key), then
        `matched / min(n_a, n_b) >= min_frac` — the batch path's exact
        semantics, with zero re-hashing."""
        from ocr_vector_db_spark.operators.simhash_index import (
            simhash_pairs_from_sigs,
        )

        s2 = sigs.select(
            self._sig_asset_id(F.col("doc")).alias("doc"),
            F.substring(F.col("doc"), -9, 9).cast("int").alias("f"),
            "simhash",
        )
        pairs = simhash_pairs_from_sigs(s2, self.bits, self.r,
                                        align_col="f")
        matched = pairs.groupBy("doc_a", "doc_b").agg(
            F.count("*").alias("matched")
        )
        counts = s2.groupBy("doc").agg(F.count("*").alias("n"))
        return (
            matched
            .join(counts.select(F.col("doc").alias("doc_a"),
                                F.col("n").alias("n_a")), "doc_a")
            .join(counts.select(F.col("doc").alias("doc_b"),
                                F.col("n").alias("n_b")), "doc_b")
            .filter(F.col("matched") / F.least("n_a", "n_b")
                    >= self.min_frac)
            .select(F.col("doc_b").alias(id_col))
            .distinct()
        )

    def _append(self, sig: DataFrame, build: bool = False) -> None:
        """Parent append plus the per-video sampled-frame counts side
        table (`vcounts`: one (doc=video id, n) row per video), written
        FIRST — an orphan count row for a video whose signatures never
        landed is harmless (it can never match a candidate), while the
        reverse order could leave a screen-able video uncounted."""
        vc = (
            sig.select(self._sig_asset_id(F.col("doc")).alias("doc"))
            .groupBy("doc").agg(F.count("*").alias("n"))
        )
        self._write("vcounts", vc, build=build)
        super()._append(sig, build=build)

    def vcounts_table(self) -> DataFrame:
        """(doc=video id, n sampled frames) for every indexed video. A
        pre-vcounts index (or an empty build) falls back to ONE bounded
        aggregate over the frame-grain signatures — correct, but the
        point of the side table is that screens never need it."""
        vc = self._read("vcounts", empty=lambda: (
            self.signatures()
            .select(self._sig_asset_id(F.col("doc")).alias("doc"))
            .groupBy("doc").agg(F.count("*").cast("long").alias("n"))
        ))
        # max-fold so duplicate rows stay exact: the sampled-frame count
        # is invariant for a fixed `every`, so a crash between the
        # vcounts append and the ledger commit (retried add writes a
        # second identical (doc, n) row) is idempotent — a sum-fold
        # would double n_corpus and silently weaken the
        # min(n_new, n_corpus) containment screen back to matched/n_new
        return vc.groupBy("doc").agg(F.max("n").alias("n"))

    def _compaction(self):
        return (("vcounts", None, max(self.n_buckets // 8, 1)),
                *super()._compaction())

    @classmethod
    def build(  # noqa: D417 - narrowed signature over the text parent
        cls, spark, clips: DataFrame, path: str, r: int = 4,
        n_buckets: int = 64, every: int = 1, min_frac: float = 0.6,
        id_col: str = "asset_id",
    ) -> "VideoFpIndex":
        return cls._start_build(
            spark, path, 64, r, n_buckets, every=every, min_frac=min_frac
        )._build(clips, id_col, "data")

    def screen(
        self,
        new_docs: DataFrame | None = None,
        id_col: str = "asset_id",
        text_col: str = "data",
        sigs: DataFrame | None = None,
    ) -> DataFrame:
        """(new_id, corpus_id, matched, n_new, frac ≥ min_frac) at the
        VIDEO grain — frame hits from the parent's banded screen, kept
        where the sampled positions ALIGN, counted per video pair.
        `frac = matched / min(n_new, n_corpus)` (the batch path's
        denominator — see the class docstring); a corpus video missing
        from `vcounts` (a pre-vcounts index) degrades to `n_new` alone.
        The new side's sampled count comes from its own signature rows,
        so precomputed `sigs` fully replace the clip re-hash."""
        new_sig = sigs if sigs is not None else self._sig_expr(
            new_docs, id_col, text_col
        )
        fhits = super().screen(sigs=new_sig)
        pos = {s: F.substring(F.col(s), -9, 9).cast("int")
               for s in ("new_id", "corpus_id")}
        vid = {s: F.substring(F.col(s), 1, F.length(s) - 10)
               for s in ("new_id", "corpus_id")}
        aligned = fhits.filter(pos["new_id"] == pos["corpus_id"]).select(
            vid["new_id"].alias("new_id"),
            vid["corpus_id"].alias("corpus_id"),
            pos["new_id"].alias("f"),
        ).distinct()
        matched = aligned.groupBy("new_id", "corpus_id").agg(
            F.count("*").alias("matched")
        )
        n_new = (
            new_sig.select(self._sig_asset_id(F.col("doc")).alias("new_id"))
            .groupBy("new_id").agg(F.count("*").cast("long").alias("n_new"))
        )
        n_corp = self.vcounts_table().select(
            F.col("doc").alias("corpus_id"), F.col("n").alias("n_corpus")
        )
        return (
            matched.join(n_new, "new_id")
            .join(n_corp, "corpus_id", "left")
            .withColumn(
                "frac",
                F.col("matched")
                / F.least("n_new", F.coalesce("n_corpus", "n_new")),
            )
            .filter(F.col("frac") >= self.min_frac)
            .select("new_id", "corpus_id", "matched", "n_new", "frac")
        )

    def dedup_new(
        self,
        new_docs: DataFrame,
        id_col: str = "asset_id",
        text_col: str = "data",
        sigs: DataFrame | None = None,
    ) -> DataFrame:
        dupes = (
            self.screen(new_docs, id_col, text_col, sigs=sigs)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        return new_docs.join(dupes, id_col, "left_anti")

    def add(
        self,
        docs: DataFrame | None = None,
        id_col: str = "asset_id",
        text_col: str = "data",
        assume_new: bool = False,
        sigs: DataFrame | None = None,
    ) -> int:
        """Parent add with clip-shaped defaults; the count is FRAME docs
        folded (n videos × sampled frames), matching the stored grain."""
        return super().add(docs, id_col=id_col, text_col=text_col,
                           assume_new=assume_new, sigs=sigs)


def video_keep_best(
    clips: DataFrame,
    r: int = 4,
    every: int = 1,
    min_frac: float = 0.6,
    id_col: str = "asset_id",
) -> DataFrame:
    """Quality-aware video dedup — the video member of the keep-best
    family (image_keep_best / audio_keep_best): aligned near-dup pairs →
    transitive closure → per family keep the copy with the most PIXELS
    delivered (width × height × n_frames: the highest-fidelity master;
    min id on ties). Input is the projected clip shape; returns
    (id, family, pixels, keep) for every input clip."""
    from ocr_vector_db_spark.operators.dedup import keep_best_by_quality

    vsigs = video_frame_signatures(video_clip_frames(clips, every, id_col))
    pairs = video_near_dup_pairs(vsigs, r=r, min_frac=min_frac)
    items = clips.select(
        F.col(id_col),
        (F.col("width").cast("long") * F.col("height")
         * F.col("n_frames")).alias("pixels"),
    )
    return keep_best_by_quality(items, pairs, "pixels", id_col=id_col)
