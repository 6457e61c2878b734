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

Replay safety mirrors the text pipeline: foreachBatch re-runs the last
uncommitted epoch; `ParquetAcceptedSink` overwrites its own epoch dir,
the index re-add guard (or the `EpochLedger` fast path) makes the fold a
no-op, and a fully committed epoch short-circuits entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.image_hash import (
    dhash_signatures,
    phash_near_dup_pairs,
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
    exact byte hash instead'). Layout: one parquet dir per epoch
    (`path/epoch=N`, key column only), so a replayed epoch's add is an
    idempotent overwrite; `keys(before_epoch)` reads strictly OLDER
    epochs, so a crash between the store add and the ledger commit can
    never make the retry screen a batch against its own keys (which
    would sink the epoch empty)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def keys(self, before_epoch: int) -> DataFrame:
        from ocr_vector_db_spark.operators.index_maint import fs_exists

        if not fs_exists(self.spark, self.path):
            return self.spark.createDataFrame([], "__xkey string")
        epochs, stages = self._list_dirs()  # ONE FS listing per screen
        if epochs:
            out = (
                self.spark.read.parquet(self.path)
                .filter(F.col("epoch") < before_epoch)
                .select("__xkey")
            )
        else:
            # a crash can leave ONLY stage dirs (every epoch folded,
            # rename pending) — the bare root read would fail to infer
            out = self.spark.createDataFrame([], "__xkey string")
        # union readable _compact_* stage dirs: between compact()'s
        # fs.delete(target) and fs.rename, the target epoch's keys exist
        # ONLY in an underscore-prefixed stage that partition discovery
        # ignores — without this, a crash in that window silently
        # re-admits byte-identical assets until a later compact folds
        # the stage back in. Staged keys are always merges of COMMITTED
        # epochs strictly below the current one (compact's
        # precondition), so including them never screens a batch against
        # its own keys. Only the mid-write-crash shapes are skipped — an
        # empty/schema-less stage is redundant with its still-present
        # sources — while a GENUINE read error (transient IO, corrupt
        # footer on a stage that holds the only copy of folded keys)
        # raises instead of silently weakening the exact screen.
        from ocr_vector_db_spark.operators.index_maint import read_or_none

        for name in stages:
            staged = read_or_none(self.spark, os.path.join(self.path, name))
            if staged is not None:
                out = out.unionByName(staged.select("__xkey"))
        return out

    def _list_dirs(self) -> tuple:
        """(epoch numbers, `_compact_*` stage dir names) currently on
        disk — one FileSystem listing, no Spark job."""
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = root.getFileSystem(conf)
        epochs, stages = [], []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("epoch="):
                epochs.append(int(name.split("=", 1)[1]))
            elif name.startswith("_compact_"):
                stages.append(name)
        return epochs, stages

    def add(self, keys: DataFrame, epoch_id: int) -> None:
        keys.select("__xkey").distinct().write.mode("overwrite").parquet(
            os.path.join(self.path, f"epoch={epoch_id}")
        )

    def compact(self, below_epoch: int) -> None:
        """Fold every epoch dir with epoch < below_epoch into ONE dir at
        `epoch = below_epoch - 1` — bounds the store's file count (one
        tiny dir per epoch forever is the classic streaming small-files
        leak). Safe only for COMMITTED epochs (pass the ledger's
        committed()+1 at most): a committed epoch never replays, so
        nothing will ever screen with before_epoch <= below_epoch - 1
        again, and all folded keys stay visible to every later epoch.

        Crash-safe by staging, never by overwrite: the merge is written
        to an underscore-prefixed staging dir, the target epoch dir
        swaps in via delete+rename (two metadata ops), and the source
        dirs drop only AFTER the swap — so at every instant every key
        lives in at least one on-disk dir, and `keys()` unions readable
        stage dirs so even the delete→rename window never hides a key
        from the screen. A crash costs at most duplicate keys (harmless
        to the anti-join); the next cycle folds stale stages back in as
        sources and cleans them. (The previous overwrite-in-place
        scheme deleted the target's only copy before the new write
        landed — a mid-write crash lost committed keys for good.)"""
        from ocr_vector_db_spark.operators.index_maint import fs_exists

        if below_epoch < 1 or not fs_exists(self.spark, self.path):
            return
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = root.getFileSystem(conf)
        # one FileSystem listing; the dir list is the only driver-sized
        # state here
        epochs, stale = self._list_dirs()
        doomed = [e for e in epochs if e < below_epoch - 1]
        if not doomed and not stale:
            return
        if epochs:
            merged = (
                self.spark.read.parquet(self.path)
                .filter(F.col("epoch") < below_epoch)
                .select("__xkey")
            )
        else:
            # only stage dirs survive a crash that folded every epoch:
            # the bare root read cannot infer a schema, start empty
            merged = self.spark.createDataFrame([], "__xkey string")
        # a stale stage can hold the target's only copy (crash between
        # its delete and rename); an unreadable one (crash MID-WRITE —
        # empty/schema-less) is redundant with the still-present
        # sources. Only those two mid-write shapes may be skipped: a
        # GENUINE read error (transient IO, corrupt footer) must abort
        # the compact BEFORE anything is deleted, because the deletion
        # loop below drops every stale stage unconditionally — silently
        # excluding a stage that held the only copy of folded keys
        # would be permanent key loss, after which byte-identical
        # assets re-admit forever. Aborting is always safe here: every
        # key is still on disk and the next cycle retries the fold.
        from ocr_vector_db_spark.operators.index_maint import read_or_none

        for name in stale:
            staged = read_or_none(self.spark, os.path.join(self.path, name))
            if staged is not None:
                merged = merged.unionByName(staged.select("__xkey"))
        merged = merged.distinct()
        stage_name = f"_compact_{below_epoch}"
        while fs.exists(jvm.org.apache.hadoop.fs.Path(
                os.path.join(self.path, stage_name))):
            stage_name += "x"  # never overwrite a stale stage
        merged.write.parquet(os.path.join(self.path, stage_name))
        target = jvm.org.apache.hadoop.fs.Path(
            os.path.join(self.path, f"epoch={below_epoch - 1}")
        )
        # Hadoop FileSystems signal most failures by RETURNING FALSE,
        # not raising — an unchecked failed swap would go on to delete
        # the source dirs while the merged keys sit invisible in the
        # underscore stage. Refuse loudly instead: every key is still
        # on disk (stage + sources) and the next cycle folds the stage
        # back in.
        if fs.exists(target) and not fs.delete(target, True):
            raise IOError(
                f"ExactFrameStore.compact: could not clear {target}; "
                f"merged keys staged at {stage_name}, sources kept"
            )
        if not fs.rename(
            jvm.org.apache.hadoop.fs.Path(
                os.path.join(self.path, stage_name)
            ),
            target,
        ):
            raise IOError(
                f"ExactFrameStore.compact: rename {stage_name} -> "
                f"{target} failed; sources kept"
            )
        for e in doomed:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    os.path.join(self.path, f"epoch={e}")
                ),
                True,
            )
        for name in stale:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    os.path.join(self.path, name)
                ),
                True,
            )


def image_dropped_ids(
    frames: DataFrame, r: int, id_col: str = "asset_id"
) -> DataFrame:
    """ids to DROP from a batch under the keep-min convention: every asset
    with a LOWER-id near-dup (Hamming ≤ r) in the same batch. One banded
    pair search over the batch only."""
    sigs = dhash_signatures(frames, id_col=id_col)
    return (
        phash_near_dup_pairs(sigs, r=r)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )


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


def audio_dropped_ids(
    clips: DataFrame, r: int, id_col: str = "asset_id"
) -> DataFrame:
    """`image_dropped_ids`' audio twin: keep-min over the batch's energy-
    fingerprint near-dup pairs (same 64-bit banded Hamming search)."""
    from ocr_vector_db_spark.operators.audio_fingerprint import (
        audio_fingerprints,
        audio_near_dup_pairs,
    )

    sigs = audio_fingerprints(clips, id_col=id_col)
    return (
        audio_near_dup_pairs(sigs, r=r)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )


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
    `stream_ingest_deduped`'s contracts exactly (which see).

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
    Everything downstream (replay ledger, sink-then-fold ordering,
    compaction, stats) is shared and keeps its certification."""
    hashable_pred = hashable_pred or hashable_frames_pred
    exact_key = exact_key or exact_frame_key

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if ledger is not None and epoch_id <= ledger.committed():
            return  # replayed, fully committed epoch: no-op
        guarded = ledger is not None and epoch_id <= ledger.started()
        if ledger is not None:
            ledger.mark_started(epoch_id)
        if batch_df.isEmpty():
            if ledger is not None:
                ledger.mark_committed(epoch_id)
            return
        batch_df = batch_df.cache()
        try:
            pred = hashable_pred(batch_df)
            hashable = batch_df.filter(pred)
            n_in = hashable.count()
            # the ONE signature computation of the whole micro-batch
            # (localCheckpoint materializes it and severs the lineage,
            # so downstream consumers replay the tiny sig rows, never
            # the hashing)
            sigs = index.signatures_of(
                hashable, id_col=id_col, text_col="data"
            ).localCheckpoint()
            doomed = index.batch_dropped_ids(sigs, id_col=id_col)
            batch_kept = hashable.join(doomed, id_col, "left_anti")
            kept_sigs = index.restrict_sigs(sigs, doomed, id_col=id_col,
                                            anti=True)
            fresh = index.dedup_new(batch_kept, id_col=id_col,
                                    sigs=kept_sigs)
            # localCheckpoint, NOT cache: fresh's plan scans the band/
            # signature layouts it was screened against, and the add below
            # appends to those paths — a cached plan over changed source
            # files re-executes against the grown index and silently
            # evaluates empty (pipeline.py's finding; same fix).
            fresh = fresh.localCheckpoint()
            n_accepted = fresh.count()

            # the unhashable remainder: exact byte-hash dedup, never the
            # silent fall-through (see the function docstring)
            unhashable = batch_df.filter(~pred)
            # NULL-data rows are garbage, not content: they never reach
            # the sink (counted inside dropped_exact_dup). Without this
            # split the image key would silently degrade to dims-only
            # (concat_ws skips NULLs) and the audio key to a NULL that
            # never joins — the two modalities would disagree.
            keyed = unhashable.filter(F.col("data").isNotNull())
            keyed = keyed.withColumn("__xkey", exact_key(keyed))
            first_ids = keyed.groupBy("__xkey").agg(F.min(id_col).alias(id_col))
            u_kept = keyed.join(first_ids, ["__xkey", id_col], "left_semi")
            if exact_store is not None:
                u_kept = u_kept.join(
                    exact_store.keys(before_epoch=epoch_id),
                    "__xkey", "left_anti",
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
                    # the accepted subset of the batch's one signature
                    # set — no re-hash on the fold either
                    sigs=index.restrict_sigs(
                        kept_sigs, fresh.select(id_col), id_col=id_col
                    ),
                    id_col=id_col,
                    # steady-state ledger mode: the gate proved newness;
                    # only a crashed epoch's retry re-guards
                    assume_new=ledger is not None and not guarded,
                )
            if exact_store is not None and n_u_accepted:
                exact_store.add(u_fresh, epoch_id)
            if ledger is not None:
                ledger.mark_committed(epoch_id)
            if stats is not None:
                stats.append({
                    "epoch": epoch_id,
                    "accepted": n_accepted + n_u_accepted,
                    "dropped_as_dup": n_in - n_accepted,
                    "unhashable": n_unhashable,
                    "dropped_exact_dup": n_unhashable - n_u_accepted,
                })
        finally:
            batch_df.unpersist()
        if compact_every is not None and (epoch_id + 1) % compact_every == 0:
            index.compact()
            # the exact store's compaction precondition is COMMITTED
            # epochs (compact folds dirs a replay must never overwrite);
            # without a ledger no epoch is provably committed — the
            # streaming checkpoint alone can replay the current epoch
            # after a crash — so ledgerless runs keep per-epoch dirs
            if exact_store is not None and ledger is not None:
                # every epoch <= epoch_id just committed (or no-op'd);
                # folding them bounds the store's dir count
                exact_store.compact(below_epoch=epoch_id + 1)

    return _start_foreach_batch(frames_stream, per_batch, checkpoint)


def asset_store_paths(store: str) -> dict[str, str]:
    """Store layout for the CLI: index + sink + ledger + checkpoint."""
    return {
        "index": os.path.join(store, "phash_index"),
        "exact": os.path.join(store, "exact_frames"),
        "accepted": os.path.join(store, "accepted_assets"),
        "ledger": os.path.join(store, "phash_index", "_epochs"),
        "checkpoint": os.path.join(store, "asset_stream_checkpoint"),
    }


def video_store_paths(store: str) -> dict[str, str]:
    """`asset_store_paths`' video twin."""
    return {
        "index": os.path.join(store, "vfp_index"),
        "exact": os.path.join(store, "exact_videos"),
        "accepted": os.path.join(store, "accepted_videos"),
        "ledger": os.path.join(store, "vfp_index", "_epochs"),
        "checkpoint": os.path.join(store, "video_stream_checkpoint"),
    }


def audio_store_paths(store: str) -> dict[str, str]:
    """`asset_store_paths`' audio twin (separate dirs so one store root
    can gate both modalities)."""
    return {
        "index": os.path.join(store, "afp_index"),
        "exact": os.path.join(store, "exact_clips"),
        "accepted": os.path.join(store, "accepted_audio"),
        "ledger": os.path.join(store, "afp_index", "_epochs"),
        "checkpoint": os.path.join(store, "audio_stream_checkpoint"),
    }
