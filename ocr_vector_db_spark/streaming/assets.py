"""Streaming ingestion for image assets with incremental perceptual dedup.

The image twin of `pipeline.stream_ingest_deduped`'s text gates: a scanned
corpus arrives as raster rows (decoded pages / extracted figures in the
`multimodal.ASSET_SCHEMA` shape), and every micro-batch must drop
re-scans/re-encodes of pages the stream has ALREADY accepted — without
re-hashing the historical corpus. Text dedup cannot see these (different
OCR noise, different bytes, same picture); the reference decodes page
rasters (ingestion/parsers/pymupdf_parser.py:518-569) but never dedups
them.

Per micro-batch:

  1. intra-batch: dHash the batch, drop every asset with a lower-id
     near-dup in the SAME batch (keep-min, the `minhash_dropped_ids`
     convention — without this a backfill arriving as one availableNow
     batch would accept every near-dup pair wholesale);
  2. screen the survivors against the persisted `PhashIndex`
     (`image_hash.PhashIndex`, q127's banded SimHash machinery with dHash
     signatures) — only assets with no indexed signature within Hamming r
     are accepted;
  3. sink the accepted rows, then fold their signatures into the index so
     later batches screen against them (sink first, index second: both
     sides replay-safe, and an indexed asset is always in the sink).

Scale shape per micro-batch: O(batch) hashing (the pixel grain never
shuffles — image_hash's scanline discipline) + the batch's own band join
+ a slim equi-join against the stored bucket-partitioned band layout.
Batch cost is independent of how much the stream has already ingested.

The epoch protocol (ledger skip and commit, empty batches, stats,
compaction) is the text gate's: both run on `pipeline._start_foreach_batch`.
foreachBatch re-runs the last uncommitted epoch, so each write here is
replay-safe: `ParquetAcceptedSink` overwrites its own epoch dir, the
index re-add guard (or the `EpochLedger` fast path) makes the fold a
no-op, and the exact store screens each epoch against older epochs' keys
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.index_maint import (
    append,
    current_gen_dir,
    list_names,
    publish,
    read_or_none,
)
from ocr_vector_db_spark.streaming.pipeline import _start_foreach_batch


def hashable_frames_pred(df: DataFrame) -> "F.Column":
    """True for frames `dhash_signatures` CAN hash: at least the 9×8 dHash
    grid, a data buffer of exactly width×height×channels bytes, and a
    supported channel count (1, or 3 when a `channels` column rides
    along). Everything else silently vanishes inside `image_grid_cells`'s
    filter, so the streaming gate must split on this predicate FIRST —
    otherwise unhashable frames bypass both dedup gates unnoticed (the
    ADVICE r11 finding). NULL dims/data count as unhashable."""
    ch = F.col("channels") if "channels" in df.columns else F.lit(1)
    ok = (
        (F.col("width") >= 9)
        & (F.col("height") >= 8)
        & (F.length("data")
           == F.col("width").cast("long") * F.col("height") * ch)
    )
    if "channels" in df.columns:
        ok = ok & F.col("channels").isin(1, 3)
    return F.coalesce(ok, F.lit(False))


def exact_frame_key(df: DataFrame) -> "F.Column":
    """Deterministic exact-content key for the unhashable remainder:
    sha256 over dims + channel count + the raw bytes. Byte-identical
    frames (the only duplicate notion that exists below the dHash grid)
    collide; nothing else does."""
    ch = (F.col("channels").cast("string") if "channels" in df.columns
          else F.lit("1"))
    return F.sha2(
        F.concat_ws(
            "|", F.col("width").cast("string"),
            F.col("height").cast("string"), ch, F.base64(F.col("data")),
        ),
        256,
    )


class ExactFrameStore:
    """Persisted exact-content keys of accepted UNHASHABLE frames — the
    byte-hash sidecar to the PhashIndex (image_hash.py's 'screen them by
    exact byte hash instead'). One `(__xkey, epoch)` table rooted at
    `path`, on `index_maint`'s generations: `add` appends an epoch's
    keys into the live generation, `compact` publishes the live rows as
    the next one. Each row keeps its epoch, and `keys(before_epoch)`
    reads strictly OLDER epochs, so a replayed epoch never screens its
    batch against its own keys (which would sink the epoch empty); the
    duplicate keys a replay appends are harmless to the anti-join.

    A store written before generations (`path/epoch=N/` dirs) reads
    through partition discovery as the same two columns, and its first
    `add` or `compact` migrates it into `gen-000001`. A `_compact_*`
    stage dir left by that era's compaction may hold the only copy of
    folded keys, which partition discovery skips: such a store raises
    instead of reading or migrating without them."""

    SCHEMA = "__xkey string, epoch int"

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def _live(self) -> DataFrame | None:
        """The live rows, or None while the store holds no data files."""
        gen = current_gen_dir(self.spark, self.path)
        if gen == self.path:  # no generation yet: a new or legacy store
            names = list_names(self.spark, self.path)
            stages = sorted(n for n in names if n.startswith("_compact_"))
            if stages:
                raise IOError(
                    f"ExactFrameStore {self.path}: legacy stage dir "
                    f"{stages[0]} may hold keys no epoch dir has; restore "
                    "it as the epoch dir it was staged for (its number "
                    "minus one) before using the store"
                )
            if not names:
                return None
        return read_or_none(self.spark, gen, self.SCHEMA)

    def keys(self, before_epoch: int) -> DataFrame:
        live = self._live()
        if live is None:
            return self.spark.createDataFrame([], "__xkey string")
        return live.filter(F.col("epoch") < before_epoch).select("__xkey")

    def add(self, keys: DataFrame, epoch_id: int) -> None:
        self._live()  # a legacy store with stage dirs raises, unmigrated
        append(self.spark, self.path, keys.select("__xkey").distinct()
               .withColumn("epoch", F.lit(epoch_id).cast("int")))

    def compact(self) -> None:
        """Publish the live rows as ONE file in the next generation —
        bounds the store's file count (one small append per epoch is the
        classic streaming small-files leak)."""
        live = self._live()
        if live is not None:
            publish(self.spark, self.path, live.coalesce(1))


# ---------------------------------------------------------------------
# audio modality adapters: the same gate over PCM clips
# ---------------------------------------------------------------------


def hashable_clips_pred(df: DataFrame) -> "F.Column":
    """True for clips `audio_fingerprints` CAN hash: an even byte length
    (whole int16 samples) of at least the 65-sample frame grid. Shorter
    or malformed clips silently vanish inside `pcm_frame_cells`' filter —
    the same fall-through hazard as sub-grid images, split on FIRST."""
    from ocr_vector_db_spark.operators.audio_fingerprint import N_FRAMES

    ok = (
        (F.length("data") % 2 == 0)
        & (F.length("data") >= N_FRAMES * 2)
    )
    return F.coalesce(ok, F.lit(False))


def exact_clip_key(df: DataFrame) -> "F.Column":
    """Exact-content key for sub-frame-grid clips: sha256 of the raw
    bytes (byte-identical is the only duplicate notion that exists below
    the 65-sample grid)."""
    return F.sha2(F.base64(F.col("data")), 256)


# ---------------------------------------------------------------------
# video modality adapters: the same gate over raw clips
# ---------------------------------------------------------------------


def hashable_videos_pred(df: DataFrame) -> "F.Column":
    """True for clip rows the per-frame dHash can hash: frames at least
    the 9×8 grid, at least one frame, and a buffer of exactly
    width×height×n_frames bytes. NULL dims/data count as unhashable."""
    ok = (
        (F.col("width") >= 9)
        & (F.col("height") >= 8)
        & (F.col("n_frames") >= 1)
        & (F.length("data")
           == F.col("width").cast("long") * F.col("height")
           * F.col("n_frames"))
    )
    return F.coalesce(ok, F.lit(False))


def exact_video_key(df: DataFrame) -> "F.Column":
    """Exact-content key for sub-grid clips: sha256 over dims + frame
    count + the raw bytes."""
    return F.sha2(
        F.concat_ws(
            "|", F.col("width").cast("string"),
            F.col("height").cast("string"),
            F.col("n_frames").cast("string"), F.base64(F.col("data")),
        ),
        256,
    )


def stream_ingest_asset_dedup(
    frames_stream: DataFrame,
    index,
    accepted_sink,
    *,
    id_col: str = "asset_id",
    stats: list | None = None,
    checkpoint: str | None = None,
    ledger=None,
    compact_every: int | None = None,
    exact_store: ExactFrameStore | None = None,
    hashable_pred=None,
    exact_key=None,
):
    """Start the availableNow asset-dedup stream. `frames_stream` rows must
    carry (id_col, data, width, height) — `asset_gray_frames` output; any
    extra columns ride through to the sink. `index` is a built
    `PhashIndex`; its Hamming radius r is the gate's near-dup definition.
    `accepted_sink`/`stats`/`checkpoint`/`ledger`/`compact_every` follow
    `stream_ingest_deduped`'s contracts exactly (which see); a compaction
    compacts the index, then the exact store.

    Frames the dHash grid cannot hash (`hashable_frames_pred` false —
    tiny icons, truncated buffers, odd channel counts) do NOT fall
    through the perceptual gates: they dedup by exact byte hash —
    intra-batch keep-min, then (when `exact_store` is given) a screen
    against the persisted keys of every previously accepted unhashable
    frame — and are counted per epoch (`unhashable`,
    `dropped_exact_dup`). Without an `exact_store` the exact screen is
    intra-batch only (cross-batch byte-identical repeats pass; the CLI
    always persists one).

    The gate itself is modality-independent; the two row-shape seams
    default to the image functions and swap for other asset kinds —
    audio PCM clips pass `hashable_clips_pred` / `exact_clip_key` with
    an `AudioFpIndex` (the CLI's `stream-ingest-audio`). The perceptual
    machinery (signature function, intra-batch keep-min, screen, add)
    all comes from the index itself, and the gate computes the batch's
    signature DataFrame exactly ONCE (`index.signatures_of` →
    localCheckpoint) — keep-min, the corpus screen and the index fold
    each consume that one materialization instead of re-hashing raw
    bytes (for video that was per-frame hashing ×3 per micro-batch).
    The epoch protocol (replay ledger, stats, compaction cadence) is
    `_start_foreach_batch`'s, shared with the text gate."""
    hashable_pred = hashable_pred or hashable_frames_pred
    exact_key = exact_key or exact_frame_key

    def body(batch_df: DataFrame, epoch_id: int, guarded: bool) -> dict:
        pred = hashable_pred(batch_df)
        hashable = batch_df.filter(pred)
        n_in = hashable.count()
        # the ONE signature computation of the whole micro-batch
        # (localCheckpoint materializes it and severs the lineage, so
        # downstream consumers replay the tiny sig rows, never the hashing)
        sigs = index.signatures_of(
            hashable, id_col=id_col, text_col="data"
        ).localCheckpoint()
        doomed = index.batch_dropped_ids(sigs, id_col=id_col)
        batch_kept = hashable.join(doomed, id_col, "left_anti")
        kept_sigs = index.restrict_sigs(sigs, doomed, id_col=id_col,
                                        anti=True)
        fresh = index.dedup_new(batch_kept, id_col=id_col, sigs=kept_sigs)
        # localCheckpoint, NOT cache: fresh's plan scans the band/
        # signature layouts it was screened against, and the add below
        # appends to those paths — a cached plan over changed source files
        # re-executes against the grown index and silently evaluates empty
        # (pipeline.py's finding; same fix).
        fresh = fresh.localCheckpoint()
        n_accepted = fresh.count()

        # the unhashable remainder: exact byte-hash dedup, never the
        # silent fall-through (see the function docstring)
        unhashable = batch_df.filter(~pred)
        # NULL-data rows are garbage, not content: they never reach the
        # sink (counted inside dropped_exact_dup). Without this split the
        # image key would silently degrade to dims-only (concat_ws skips
        # NULLs) and the audio key to a NULL that never joins — the two
        # modalities would disagree.
        keyed = unhashable.filter(F.col("data").isNotNull())
        keyed = keyed.withColumn("__xkey", exact_key(keyed))
        first_ids = keyed.groupBy("__xkey").agg(F.min(id_col).alias(id_col))
        u_kept = keyed.join(first_ids, ["__xkey", id_col], "left_semi")
        if exact_store is not None:
            u_kept = u_kept.join(
                exact_store.keys(before_epoch=epoch_id), "__xkey", "left_anti",
            )
        u_fresh = u_kept.localCheckpoint()
        n_unhashable = unhashable.count()
        n_u_accepted = u_fresh.count()

        if n_accepted or n_u_accepted:
            accepted_sink.write(
                fresh.unionByName(u_fresh.drop("__xkey")), epoch_id
            )
        if n_accepted:
            index.add(
                # the accepted subset of the batch's one signature set —
                # no re-hash on the fold either
                sigs=index.restrict_sigs(
                    kept_sigs, fresh.select(id_col), id_col=id_col
                ),
                id_col=id_col,
                # steady-state ledger mode: the gate proved newness; only
                # a crashed epoch's retry re-guards
                assume_new=ledger is not None and not guarded,
            )
        if exact_store is not None and n_u_accepted:
            exact_store.add(u_fresh, epoch_id)
        return {
            "accepted": n_accepted + n_u_accepted,
            "dropped_as_dup": n_in - n_accepted,
            "unhashable": n_unhashable,
            "dropped_exact_dup": n_unhashable - n_u_accepted,
        }

    def compact() -> None:
        index.compact()
        if exact_store is not None:
            exact_store.compact()

    return _start_foreach_batch(
        frames_stream, body, checkpoint, ledger=ledger, stats=stats,
        compact=compact, compact_every=compact_every,
    )
