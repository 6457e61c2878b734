"""Streaming ingest + event analytics.

Two streaming shapes:

1. `windowed_event_counts`: readStream → watermark → tumbling window agg.
   The batch twin is inventory q29 — same logical plan, Spark just swaps in
   incremental state-store execution. At scale the watermark bounds state:
   late events beyond 10 minutes are dropped instead of accumulating.

2. `stream_ingest`: file-source stream of documents run through the SAME
   batch ingest stages via foreachBatch — exactly-once per micro-batch into
   an append sink. This is the incremental-ingest extension the reference's
   CLI loop (api/cli/ingest.py) approximates with re-runs.

Tests drive these with the memory sink + processAllAvailable() so a batch of
files exercises the streaming path synchronously.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_vector_db_spark.functions.tokenize import tokens_of

EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts/sums with late-data watermark."""
    # decimal-cast sum: associativity-proof, so the streamed incremental
    # aggregation is value-identical to any batch/SQL twin of this query
    dsum = F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)")).cast("double")
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(dsum, 4).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over json event files dropped into `source_dir`."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).json(source_dir)


def dedup_stream(
    events_stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, incremental
    twin of batch `dedup.dedup_exact`. `dropDuplicatesWithinWatermark`
    bounds the key state to the watermark horizon — at 100 TB/day the state
    store holds only the recent-key set instead of growing forever (the
    same first-writer-wins contract as the reference's ON CONFLICT DO
    NOTHING child sink, app/storage.py:327-438)."""
    wm = events_stream.withWatermark(ts_col, watermark)
    return wm.dropDuplicatesWithinWatermark(key_cols)


def join_event_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: pair each left event with right
    events for the same key that arrive within [left.ts - max_lag,
    left.ts + max_lag]. Both watermarks plus the time-range predicate are
    what let Spark EVICT join state — without the range condition the state
    store would buffer both streams forever; with it, rows older than
    watermark + lag are dropped as each micro-batch commits. This is the
    streaming twin of the batch binned range join
    (operators/range_join.py), with the same bounded-window contract."""
    l = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key, ts_col)],
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, ts_col)],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {max_lag}"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}"))
    )
    return l.join(r, cond, how)


def run_to_memory_append(stream_df: DataFrame, name: str) -> DataFrame:
    """Like run_to_memory but in append mode (required for stateful ops that
    emit rows once, e.g. dedup)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming DF to completion against current inputs (memory
    sink, synchronous) and return the materialized result."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


class ParquetTableSink:
    """Multi-table executor-side sink for `stream_ingest`: each table's
    epoch slice lands in `{path}/{table}/epoch_id={N}` (overwrite mode →
    a replayed micro-batch rewrites its own epoch directory, no driver
    materialization, no duplicate rows)."""

    def __init__(self, path: str):
        self.path = path

    def write(self, table: str, df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            posixpath.join(self.path, table, f"epoch_id={epoch_id}")
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        p = posixpath.join(self.path, table)
        return spark.read.option("basePath", p).parquet(p)


def _start_foreach_batch(
    stream_df: DataFrame,
    body,
    checkpoint: str | None,
    *,
    ledger=None,
    stats: list | None = None,
    compact=None,
    compact_every: int | None = None,
):
    """availableNow foreachBatch runner that owns the epoch protocol of
    every streaming gate. With `checkpoint`, a restarted query resumes
    after the last committed epoch (epoch ids stay monotone across runs —
    what the per-epoch sink layouts key on) instead of replaying every
    input file as a fresh epoch 0.

    Per epoch: an epoch the `ledger` has committed is skipped; otherwise
    it is marked started (`guarded` says a prior attempt of it died after
    its own start mark). A non-empty batch is cached for
    `body(batch_df, epoch_id, guarded)`, which returns the epoch's stats
    entry. Then the ledger commits. An empty batch stops there; otherwise
    `stats` gets `{"epoch": epoch_id, **entry}` and every `compact_every`
    epochs `compact()` runs — after the commit, so a compaction never
    races an uncommitted epoch's writes. foreachBatch re-runs the last
    uncommitted epoch after a crash, so every write a body makes must be
    replay-safe (Armbrust et al., SIGMOD 2018)."""

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if ledger is not None and epoch_id <= ledger.committed():
            return  # replayed, fully committed epoch: no-op
        guarded = ledger is not None and epoch_id <= ledger.started()
        if ledger is not None:
            ledger.mark_started(epoch_id)
        entry = None
        if not batch_df.isEmpty():
            batch_df = batch_df.cache()
            try:
                entry = body(batch_df, epoch_id, guarded)
            finally:
                batch_df.unpersist()
        if ledger is not None:
            ledger.mark_committed(epoch_id)
        if entry is None:
            return  # an empty epoch: committed, no stats, no compaction
        if stats is not None:
            stats.append({"epoch": epoch_id, **entry})
        if compact_every is not None and (epoch_id + 1) % compact_every == 0:
            compact()

    writer = stream_df.writeStream.foreachBatch(per_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def stream_ingest(
    spark: SparkSession,
    files_stream: DataFrame,
    sink,
    dim: int = 64,
    checkpoint: str | None = None,
):
    """Incremental ingest: each micro-batch of (source_path, content, fmt)
    rows runs the batch ingest stages; each output table goes through the
    `sink` writer seam (`write(table, df, epoch_id)`) — production uses
    `ParquetTableSink` so fragment/embedding rows are written entirely
    executor-side; tests may inject a collecting double."""
    from ocr_vector_db_spark.sources.ingest import ingest

    def body(batch_df: DataFrame, epoch_id: int, guarded: bool) -> dict:
        out = ingest(spark, batch_df, dim=dim)
        sink.write("fragments", out["fragments"], epoch_id)
        sink.write("embeddings", out["embeddings"], epoch_id)
        return {}

    return _start_foreach_batch(files_stream, body, checkpoint)


class ParquetAcceptedSink:
    """Executor-side accepted-docs sink for `stream_ingest_deduped`.

    Each epoch's accepted rows are written to `{path}/epoch_id={N}` with
    overwrite mode: the write is fully distributed (no document row ever
    touches the driver), and a replayed micro-batch — foreachBatch re-runs
    the last uncommitted epoch after a crash — overwrites its own epoch
    directory instead of appending duplicates. `read` reassembles the whole
    accepted corpus with `epoch_id` as a discovered partition column."""

    def __init__(self, path: str):
        self.path = path

    def write(self, accepted: DataFrame, epoch_id: int) -> None:
        accepted.write.mode("overwrite").parquet(
            posixpath.join(self.path, f"epoch_id={epoch_id}")
        )

    def read(self, spark: SparkSession) -> DataFrame:
        # mergeSchema: epochs accepted before a semantic gate was enabled
        # lack the embedding column — a mixed-schema corpus must still
        # reassemble (missing columns read as null)
        return (
            spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(self.path)
        )

    def read_epoch(self, spark: SparkSession, epoch_id: int) -> DataFrame | None:
        """One epoch's accepted rows, or None if that epoch never reached
        the sink — what a guarded retry folds (Hadoop-FS probe, so it works
        on HDFS/object stores like every other index operation)."""
        from ocr_vector_db_spark.operators.index_maint import fs_exists

        p = posixpath.join(self.path, f"epoch_id={epoch_id}")
        return spark.read.parquet(p) if fs_exists(spark, p) else None


def _stream_tokens(docs: DataFrame, text_col: str) -> DataFrame:
    """(__tok) token stream for the vocab sketch fold — the corpus-stats
    tokenizer (q65/q128's definition), empties dropped."""
    return docs.select(
        F.explode(tokens_of(F.col(text_col))).alias("__tok")
    )


def stream_ingest_deduped(
    docs_stream: DataFrame,
    index,
    accepted_sink,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: list | None = None,
    checkpoint: str | None = None,
    ledger=None,
    compact_every: int | None = None,
    semantic_index=None,
    semantic_threshold: float = 0.85,
    semantic_intra_nprobe: int | None = 2,
    semantic_branches: int | None = None,
    sample=None,
    lm_gate=None,
    vocab_sketch=None,
    tokenfreq_sketch=None,
    drift_baseline=None,
    decontam_gate=None,
):
    """Streaming ingestion with incremental near-dup gating — the streaming
    twin of q105. Each micro-batch:

      1. dedups WITHIN itself (LSH banding over the batch, one-hop greedy
         keep-min — without this, a backfill arriving as ONE availableNow
         micro-batch would accept every near-dup pair wholesale, since the
         persisted index only knows about PREVIOUS batches);
      2. screens the survivors against the PERSISTED MinHash index
         (`operators/minhash_index.MinHashIndex`) — only docs with no
         indexed near-dup at est_jaccard >= threshold are accepted;
      3. optionally (when `semantic_index`, a built `IVFIndex` over
         (id_col, "embedding") rows, is given) embeds the text-level
         survivors with the deterministic harness embedder at the index's
         dim (a stream already carrying an `embedding` column uses its
         own vectors, dimension-checked row-by-row against the index),
         runs the INTRA-BATCH dense pass (`IVFIndex.dense_dropped_ids`,
         blocked by the gate's centroids at `semantic_intra_nprobe`
         probes — the dense twin of step 1, closing the same-batch blind
         spot), then drops any survivor whose nearest STORED vector
         reaches `semantic_threshold` — `IVFIndex.screen_near_dups`,
         SemDeDup at ingest. `semantic_branches` routes every dense-gate
         assignment (intra pass, store screen, fold-in add) through a
         hierarchical gate index's L1→L2 join so nothing
         num_clusters-sized is ever broadcast inside the stream. Accepted
         rows then carry their `embedding` column into the sink and fold
         into BOTH indexes;
      4. folds the accepted docs' signatures into the index so later
         batches screen against them too.

    Scale shape per micro-batch: O(batch) hashing + the batch's own
    banding join + a slim equi-join against the stored band layout — the
    historical corpus is never re-shingled, so batch cost is independent
    of how much the stream has already ingested. foreachBatch gives
    exactly-once per micro-batch semantics over the write-then-add
    sequence (the index add is the batch's commit; MinHashIndex's re-add
    guard makes a replayed batch a no-op).

    `accepted_sink` is the writer seam: any object with
    `write(accepted_df, epoch_id)`. Production uses `ParquetAcceptedSink`
    (distributed per-epoch overwrite — document rows never reach the
    driver); tests may inject a collecting double. Only the per-epoch
    counters land driver-side, in the optional `stats` list.

    The epoch protocol (`ledger`, empty batches, `stats`, the
    `compact_every` cadence of `index.compact()`) is
    `_start_foreach_batch`'s. With a `ledger` (an `index_maint.EpochLedger`;
    requires `checkpoint` so epoch ids are monotone across restarts) the
    steady-state adds run `assume_new=True` (no corpus-sized re-add
    anti-join: the gate itself proves newness), and only a guarded retry
    pays the anti-join, once.

    Every consumer of the ACCEPTED rows — `semantic_index`, `sample`,
    `vocab_sketch`, `tokenfreq_sketch`, `drift_baseline` — folds through
    one function, once per attempt. A first attempt folds the accepted
    rows. A guarded retry (a prior attempt died between its start mark
    and its commit) folds the epoch's sink slice instead, read after its
    own sink write (`accepted_sink.read_epoch`; a sink without it folds
    the accepted rows): if the retry accepts rows, its overwrite makes
    the slice equal them; if it accepts none, because the dead attempt
    already indexed them, the slice is what that attempt wrote, so a fold
    it never reached still lands. Every fold is replay-safe, so one it
    did reach is not doubled: epoch guards for the drift and tokenfreq
    counts, register MAX for vocab, id-idempotence for the sample, the
    guarded anti-join for the semantic add.

    `sample` (an `operators/sampling.RunningSample`) maintains a running
    A-ES weighted sample of the ACCEPTED stream: each epoch's survivors
    fold into the persisted k-row state (`fold_sample` — exactly the
    sample `weighted_sample` would draw over every accepted doc so far;
    when the stream doesn't carry the sample's weight column it is
    derived as length(text_col), the CLI `--sample` contract,
    at O(batch + k) per epoch).

    `lm_gate` = (NgramLMIndex, lo, hi): CCNet-style LM quality filter at
    ingest — each batch's docs score against the PERSISTED bigram LM
    (`score_batch`: only the batch's own count buckets are read) and docs
    whose avg_neg_logprob falls OUTSIDE [lo, hi] are dropped BEFORE the
    dedup gates (low = boilerplate, high = noise, keep the mid band —
    q118/q123's discipline as a streaming gate). Docs with < 2 tokens
    carry no bigram evidence and pass through. The gate only reads the LM
    index; accepted docs do NOT fold into it automatically (the LM is a
    stable quality model, rebuilt/add-ed deliberately — unlike the dedup
    indexes, which must learn every accepted doc).

    `decontam_gate` = (BloomSketch, threshold) or (BloomSketch, threshold,
    bench_grams): benchmark decontamination at ingest — each batch's
    2-gram shingles go through `BloomSketch.contamination` (q149's
    operator: k md5 probes + one broadcast join against the ≤ m/60-row
    words table; the batch never shuffles against the benchmark set) and
    docs whose flagged-gram fraction reaches `threshold` are FLAGGED
    before the dedup gates. With `bench_grams` (a DataFrame with the
    exact benchmark shingle set in column `shingle` — persisted by
    `decontam --build/--add`), flagged docs get a second, EXACT phase and
    only CONFIRMED docs drop — so a Bloom false positive can never drop a
    clean document, at O(flagged) extra cost. Without `bench_grams` (or
    with None) the flag alone drops (over-dropping at the designed FP
    rate).
    Either way a dropped doc never folds into any index or reaches the
    sink. Docs with < 2 tokens carry no shingle evidence and pass through
    (the lm_gate convention). Like the LM, the filter is a stable
    reference model — accepted docs do NOT fold into it. Per-epoch stats
    record `flagged_contaminated` (phase 1) next to
    `dropped_contaminated` (confirmed) in two-phase mode.

    `vocab_sketch` (an `operators/sketches.HLLSketch`) maintains a running
    vocabulary-cardinality sketch of the ACCEPTED stream: each epoch's
    survivors' tokens fold into the persisted registers (per-bucket MAX,
    O(batch + m) per epoch) — after any number of epochs the registers
    equal a scratch build over every accepted doc, exactly. Tokenization
    is the corpus-stats splitter (lower, [^a-z0-9가-힣]+), matching q128's
    oracle.

    `tokenfreq_sketch` (an `operators/sketches.CMSketch`) maintains a
    running token-FREQUENCY sketch of the ACCEPTED stream (the count-min
    companion to `vocab_sketch`'s cardinality HLL, same tokenizer): each
    epoch's survivors' tokens fold by cell-wise SUM — exact integers, so
    after any number of epochs the cells equal a scratch build over every
    accepted doc, bit-for-bit. SUM is NOT idempotent, so every fold
    passes the epoch id and the sketch's own `_last_epoch` generation
    marker makes a replayed fold a no-op — exactly-once without a second
    ledger.

    `drift_baseline` (an `operators/drift.DriftBaseline` over document
    LENGTH, i.e. length(text_col)) turns the PSI gate into a streaming
    monitor: each epoch's INCOMING batch screens against the stored
    frozen-bin histogram (O(batch + B), the per-epoch `psi` lands in
    `stats`) and the ACCEPTED docs fold in afterwards with the epoch id
    as the replay guard (count folds are not idempotent; `fold(epoch=...)`
    no-ops an epoch it has seen). Monitoring reads arrivals (pre-gate:
    you want to see the shift even in what you then drop); the baseline
    tracks accepted docs only."""
    from ocr_vector_db_spark.operators.dedup import minhash_dropped_ids

    if semantic_index is not None:
        from ocr_vector_db_spark.functions.vector import embed_udf

        dim = len(semantic_index.centroids[0][1])
        embed = embed_udf(dim)

    def fold(rows: DataFrame, epoch_id: int, assume_new: bool) -> None:
        """Fold one epoch's accepted rows into every accepted-row
        consumer (replay-safe each; see the docstring)."""
        if semantic_index is not None and "embedding" in rows.columns:
            semantic_index.add(
                rows.select(id_col, "embedding"),
                id_col=id_col, assume_new=assume_new,
                branches=semantic_branches,
            )
        if sample is not None:
            # a weight column the stream doesn't carry defaults to doc
            # length (the CLI's --sample contract)
            sample.fold(rows if sample.weight_col in rows.columns
                        else rows.withColumn(sample.weight_col,
                                             F.length(F.col(text_col))))
        if vocab_sketch is not None:
            vocab_sketch.add(_stream_tokens(rows, text_col), F.col("__tok"))
        if tokenfreq_sketch is not None:
            tokenfreq_sketch.add(_stream_tokens(rows, text_col),
                                 F.col("__tok"), epoch=epoch_id)
        if drift_baseline is not None:
            drift_baseline.fold(rows.select(F.length(text_col).alias("__dv")),
                                "__dv", epoch=epoch_id)

    def body(batch_df: DataFrame, epoch_id: int, guarded: bool) -> dict:
        entry = {}
        n_in = batch_df.count()
        if drift_baseline is not None:
            # monitor ARRIVALS (pre-gate): a shifted batch should show up
            # even if the gates then drop it
            entry["psi"] = float(drift_baseline.psi_of(
                batch_df.select(F.length(text_col).alias("__dv")), "__dv",
            ).head().psi)
        if lm_gate is not None:
            # LM quality band BEFORE the dedup gates: cheaper work first,
            # and a dropped doc must not fold into any index
            if "__nlp" in batch_df.columns:
                raise ValueError(
                    "lm_gate: input column '__nlp' collides with the "
                    "gate's internal score column; rename it first."
                )
            lm_idx, lo, hi = lm_gate
            scores = lm_idx.score_batch(
                batch_df, id_col=id_col, text_col=text_col
            ).select(id_col, F.col("avg_neg_logprob").alias("__nlp"))
            batch_df = (
                batch_df.join(scores, id_col, "left")
                # no-bigram docs (__nlp null) carry no evidence: pass
                .filter(F.col("__nlp").isNull()
                        | F.col("__nlp").between(lo, hi))
                .drop("__nlp")
            ).localCheckpoint()
            n_quality = batch_df.count()
            entry["dropped_low_quality"] = n_in - n_quality
        else:
            n_quality = n_in
        if decontam_gate is not None:
            # benchmark-leak screen BEFORE the dedup gates: a contaminated
            # doc must not fold into any index
            from ocr_vector_db_spark.operators.dedup import _doc_shingles

            bloom, dc_thresh, *dc_rest = decontam_gate
            bench_grams = dc_rest[0] if dc_rest else None
            per = bloom.contamination(
                _doc_shingles(batch_df, text_col, id_col, 2), dc_thresh,
                exact=bench_grams,
            ).localCheckpoint()
            verdict = "flagged" if bench_grams is None else "confirmed"
            batch_df = batch_df.join(
                per.filter(verdict).select(F.col("doc").alias(id_col)),
                id_col, "left_anti",
            ).localCheckpoint()
            n_clean = batch_df.count()
            entry["dropped_contaminated"] = n_quality - n_clean
            if bench_grams is not None:
                # two-phase mode: Bloom-flagged vs exact-confirmed
                entry["flagged_contaminated"] = per.filter("flagged").count()
        else:
            n_clean = n_quality
        # the ONE shingle+hash pass of the whole micro-batch
        # (signatures-once, the assets-gate discipline): keep-min, the
        # corpus screen and the index fold below all consume this
        # materialized signature set instead of re-hashing raw text three
        # times per batch
        sigs = index.signatures_of(
            batch_df, id_col=id_col, text_col=text_col
        ).localCheckpoint()
        # 1. intra-batch: drop any doc with a lower-id near-dup in the
        # same batch (same keep-min convention as dedup_exact). The
        # hot-group-safe form: a backfill batch of 10⁶ copies of one page
        # collapses to one band row instead of 10¹² pairs
        doomed = minhash_dropped_ids(
            num_hashes=index.num_hashes, bands=index.bands,
            id_col=id_col, threshold=threshold, sigs=sigs,
        )
        batch_kept = batch_df.join(doomed, id_col, "left_anti")
        kept_sigs = sigs.join(
            doomed.select(F.col(id_col).alias("doc")), "doc", "left_anti",
        )
        # 2+3. screen vs the index, accept + fold in the survivors
        fresh = index.dedup_new(
            batch_kept, threshold=threshold,
            id_col=id_col, text_col=text_col, sigs=kept_sigs,
        )
        if semantic_index is not None:
            if "embedding" in fresh.columns:
                # a stream that already carries an `embedding` column
                # (multimodal sources embed upstream) screens with its own
                # vectors — never silently overwrite them. Guard the
                # dimension row-by-row at zero job cost: a mismatched
                # vector would otherwise zip_with-pad with nulls, evaluate
                # null similarity, and silently pass the gate instead of
                # erroring.
                emb = fresh.withColumn(
                    "embedding",
                    F.when(
                        F.size("embedding") == dim, F.col("embedding")
                    ).otherwise(F.raise_error(F.concat(
                        F.lit("semantic gate: source embedding has "),
                        F.size("embedding").cast("string"),
                        F.lit(f" dims, index expects {dim}"),
                    ))),
                )
            else:
                emb = fresh.withColumn("embedding", embed(F.col(text_col)))
            # intra-batch pass (the dense twin of minhash_dropped_ids
            # above): the store screen below sees only PREVIOUS batches,
            # so same-batch semantic dups must be dropped here, blocked by
            # the gate index's own centroids
            intra = semantic_index.dense_dropped_ids(
                emb, semantic_threshold, nprobe=semantic_intra_nprobe,
                id_col=id_col, branches=semantic_branches,
            )
            emb = emb.join(intra, id_col, "left_anti")
            flagged = semantic_index.screen_near_dups(
                emb, semantic_threshold, id_col=id_col,
                branches=semantic_branches,
            ).select(id_col)
            fresh = emb.join(flagged, id_col, "left_anti")
        # localCheckpoint, NOT cache: fresh's plan scans the index layouts
        # it was screened against, and the index adds below append to
        # those paths — Spark invalidates (and lazily re-executes) cached
        # plans whose source files changed, so a cached `fresh` re-screens
        # against the just-grown index and silently evaluates empty for
        # every consumer after the first add. The checkpoint pins the
        # accepted rows themselves (its blocks are freed when `fresh` is
        # GC'd).
        fresh = fresh.localCheckpoint()
        n_accepted = fresh.count()
        assume_new = ledger is not None and not guarded
        rows = fresh if n_accepted else None
        if n_accepted:
            # sink first, index second: both sides are replay-safe
            # (per-epoch overwrite / re-add guard or ledger), and this
            # order means an indexed doc is always in the sink.
            accepted_sink.write(fresh, epoch_id)
            index.add(
                # the accepted subset of the batch's one signature set —
                # no re-hash on the fold either
                sigs=kept_sigs.join(
                    fresh.select(F.col(id_col).alias("doc")),
                    "doc", "left_semi",
                ),
                id_col=id_col, text_col=text_col,
                # steady-state ledger mode: the gate already proved
                # newness; only a crashed epoch's retry re-guards
                assume_new=assume_new,
            )
        if guarded and hasattr(accepted_sink, "read_epoch"):
            rows = accepted_sink.read_epoch(batch_df.sparkSession, epoch_id)
        if rows is not None:
            fold(rows, epoch_id, assume_new)
        return {"accepted": n_accepted,
                "dropped_as_dup": n_clean - n_accepted, **entry}

    return _start_foreach_batch(
        docs_stream, body, checkpoint, ledger=ledger, stats=stats,
        compact=index.compact, compact_every=compact_every,
    )
