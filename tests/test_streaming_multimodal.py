"""Streaming pipeline + multimodal column tests."""

import json
import os

from pyspark.sql import functions as F

from ocr_vector_db_spark.sources.multimodal import ASSET_SCHEMA, extract_features, frame_sample_plan
from ocr_vector_db_spark.streaming.pipeline import (
    EVENTS_STREAM_SCHEMA,
    read_events_stream,
    run_to_memory,
    windowed_event_counts,
)


def test_streaming_windowed_counts(spark, tmp_path):
    src = tmp_path / "events_stream"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T0{i % 3}:10:00.000Z", "user_id": i % 2,
         "event_type": "click" if i % 2 else "view", "value": float(i), "props": "{}"}
        for i in range(12)
    ]
    with open(src / "batch1.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    stream = read_events_stream(spark, str(src))
    assert stream.isStreaming
    out = run_to_memory(windowed_event_counts(stream), "win_counts_test").collect()
    assert out
    total = sum(r.n_events for r in out)
    assert total == 12
    assert all(r.window_end > r.window_start for r in out)


def test_stream_stream_join_within_lag(spark, tmp_path):
    from ocr_vector_db_spark.streaming.pipeline import join_event_streams, run_to_memory_append

    lsrc, rsrc = tmp_path / "left", tmp_path / "right"
    lsrc.mkdir(), rsrc.mkdir()
    lrows = [
        {"event_id": 1, "ts": "2024-01-01T00:10:00.000Z", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:40:00.000Z", "user_id": 2,
         "event_type": "view", "value": 2.0, "props": "{}"},
    ]
    rrows = [
        # within 5 min of left event 1, same key -> joins
        {"event_id": 10, "ts": "2024-01-01T00:12:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.5, "props": "{}"},
        # same key but 30 min later than left event 1 -> outside lag, dropped
        {"event_id": 11, "ts": "2024-01-01T00:40:00.000Z", "user_id": 1,
         "event_type": "click", "value": 9.9, "props": "{}"},
    ]
    for path, rows in ((lsrc, lrows), (rsrc, rrows)):
        with open(path / "b.json", "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    joined = join_event_streams(
        read_events_stream(spark, str(lsrc)),
        read_events_stream(spark, str(rsrc)),
    )
    assert joined.isStreaming
    out = run_to_memory_append(joined, "ss_join_test").collect()
    assert [(r.l_event_id, r.r_event_id) for r in out] == [(1, 10)]


def test_streaming_ingest_foreachbatch(spark, tmp_path):
    from ocr_vector_db_spark.sources.ingest import FILES_SCHEMA
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetTableSink,
        stream_ingest,
    )

    src = tmp_path / "docs_stream"
    src.mkdir()
    doc = {"source_path": "/stream/a.md",
           "content": "Streaming prose paragraph that is long enough to embed.\n\n"
                      "```python\ndef g():\n    return 2\n```\n",
           "fmt": "md"}
    with open(src / "f1.json", "w") as fh:
        fh.write(json.dumps(doc) + "\n")

    files_stream = spark.readStream.schema(FILES_SCHEMA).json(str(src))
    sink = ParquetTableSink(str(tmp_path / "ingest_sink"))
    q = stream_ingest(spark, files_stream, sink, dim=16)
    q.awaitTermination(60)
    # assert on the FILES the executor-side sink wrote, not driver lists
    fragments = sink.read(spark, "fragments").collect()
    embeddings = sink.read(spark, "embeddings").collect()
    assert fragments, "streamed file should produce fragments"
    assert embeddings
    assert all(len(e.embedding) == 16 for e in embeddings)
    assert all(e.epoch_id == 0 for e in embeddings)  # discovered partition col


def test_multimodal_features(spark):
    assets = spark.createDataFrame(
        [
            ("img-1", "image", bytearray(b"\x89PNG fake image bytes 1"), {"src": "a"}),
            ("img-2", "image", bytearray(b"\x89PNG other bytes"), {"src": "b"}),
            ("aud-1", "audio", bytearray(b"RIFF fake wav"), {}),
            ("vid-1", "video", bytearray(b"\x00\x00ftyp fake mp4"), {}),
        ],
        ASSET_SCHEMA,
    )
    feats = extract_features(assets).collect()
    assert len(feats) == 4
    by_id = {r.asset_id: r for r in feats}
    assert by_id["img-1"].width and by_id["img-1"].height and by_id["img-1"].duration_s is None
    assert by_id["aud-1"].duration_s is not None and by_id["aud-1"].width is None
    assert all(len(r.feature) == 16 for r in feats)
    # deterministic: same bytes → same features
    again = {r.asset_id: r for r in extract_features(assets).collect()}
    assert again["img-1"].feature == by_id["img-1"].feature
    assert by_id["img-1"].content_hash != by_id["img-2"].content_hash

    frames = frame_sample_plan(assets, every_s=2.0).collect()
    assert all(r.t_offset_s % 2.0 == 0 for r in frames)
    assert {r.asset_id for r in frames} == {"vid-1"}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from ocr_vector_db_spark.streaming.pipeline import dedup_stream, run_to_memory_append

    src = tmp_path / "dedup_stream"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T00:0{i % 5}:00.000Z", "user_id": i % 3,
         "event_type": "click", "value": 1.0, "props": f'{{"doc": "d{i % 4}"}}'}
        for i in range(20)
    ]
    with open(src / "b1.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    stream = read_events_stream(spark, str(src))
    deduped = dedup_stream(
        stream.withColumn("doc", F.get_json_object("props", "$.doc")),
        ["doc"],
    )
    out = run_to_memory_append(deduped, "dedup_stream_test").collect()
    assert len(out) == 4                       # one survivor per distinct doc
    assert {r.doc for r in out} == {"d0", "d1", "d2", "d3"}


def test_ocr_cache_skips_seen_content(spark, tmp_path):
    from ocr_vector_db_spark.sources.ocr_cache import ocr_with_cache

    cache = str(tmp_path / "ocr_cache")

    assets1 = spark.createDataFrame(
        [("a1", "image", bytearray(b"xxxx"), None),
         ("a2", "image", bytearray(b"yyy"), None),
         ("a3", "image", bytearray(b"xxxx"), None)],  # duplicate content of a1
        ASSET_SCHEMA,
    )
    out1 = ocr_with_cache(spark, assets1, cache, ocr=lambda d: f"text-{len(d)}")
    rows1 = {r.asset_id: r for r in out1.collect()}
    assert len(rows1) == 3
    assert rows1["a1"].ocr_text == "text-4" and rows1["a3"].ocr_text == "text-4"
    assert not rows1["a1"].from_cache
    # duplicate content OCR'd once: cache holds 2 distinct hashes
    assert spark.read.parquet(cache).count() == 2

    # second run: cached bytes never reach the provider (it would raise)
    def strict_ocr(data: bytes) -> str:
        if data == b"xxxx":
            raise AssertionError("provider invoked for cached content")
        return f"text-{len(data)}"

    assets2 = spark.createDataFrame(
        [("b1", "image", bytearray(b"xxxx"), None),
         ("b2", "image", bytearray(b"zz"), None)],
        ASSET_SCHEMA,
    )
    out2 = {r.asset_id: r for r in ocr_with_cache(spark, assets2, cache, ocr=strict_ocr).collect()}
    assert out2["b1"].from_cache and out2["b1"].ocr_text == "text-4"
    assert not out2["b2"].from_cache and out2["b2"].ocr_text == "text-2"
    assert spark.read.parquet(cache).count() == 3  # only the new hash appended


def test_stream_ingest_deduped_gates_and_grows_index(spark, tmp_path):
    """Streaming ingestion with incremental near-dup gating: batch 1 seeds
    the persisted MinHash index, batch 2's near-copy of a batch-1 doc is
    dropped while its genuinely-new doc is accepted and folded in."""
    import json as _json

    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    base = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through the quiet green field toward the distant river bank")
    novel = ("completely unrelated legal filing concerning maritime salvage "
             "rights and the apportionment of recovered cargo value")

    # empty-corpus index: the stream itself populates it
    idx_path = str(tmp_path / "mh_stream")
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, idx_path, num_hashes=16, bands=4,
                             n=2, n_buckets=8)

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")

    schema = "doc_id long, text string"
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    ckpt = str(tmp_path / "ckpt")
    stats: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src)), idx, sink,
        threshold=0.6, stats=stats, checkpoint=ckpt,
    )
    q.awaitTermination(60)
    # assert on the executor-written parquet, not driver-side lists
    assert [r.doc_id for r in sink.read(spark).collect()] == [1]

    # batch 2: a near-copy of doc 1 (one word changed), a novel doc, AND an
    # intra-batch near-copy of that novel doc — same micro-batch
    with open(src / "b2.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 2,
                              "text": base.replace("river", "ocean")}) + "\n")
        fh.write(_json.dumps({"doc_id": 3, "text": novel}) + "\n")
        fh.write(_json.dumps({"doc_id": 4, "text": novel}) + "\n")
    stats2: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src)), idx, sink,
        threshold=0.6, stats=stats2, checkpoint=ckpt,
    )
    q.awaitTermination(60)
    # The checkpoint resumes the restarted query AFTER batch 1's file, so
    # b2 arrives as epoch 1. doc 2 gates as a near-dup of the corpus,
    # doc 4 gates as an INTRA-batch near-dup of doc 3 (keep-min), doc 3
    # is accepted and now indexed.
    accepted_rows = sink.read(spark).collect()
    assert {(r.doc_id, r.epoch_id) for r in accepted_rows} == {(1, 0), (3, 1)}
    assert idx.signatures().filter("doc = 3").count() == 1
    assert idx.signatures().filter("doc = 2").count() == 0
    assert idx.signatures().filter("doc = 4").count() == 0
    assert stats2[-1]["dropped_as_dup"] == 2  # docs 2, 4
    # scale guard: accepted docs are written distributed, never collected
    import inspect

    from ocr_vector_db_spark.streaming import pipeline as _p
    assert ".collect()" not in inspect.getsource(_p)


def test_stream_ingest_semantic_gate(spark, tmp_path):
    """Dual-gate streaming ingest: a doc that sails through the MinHash
    gate (no indexed text resembles it) is still dropped when its
    EMBEDDING already lives in the dense store — SemDeDup at ingest.
    Survivors fold into BOTH indexes, so a later near-copy is caught by
    whichever gate sees it first."""
    import json as _json

    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    t_a = ("distributed query planners split logical plans into physical "
           "stages before scheduling them across executor slots")
    t_b = ("the archive of maritime weather observations spans two hundred "
           "years of handwritten logbook entries from merchant vessels")
    t_c = ("knitting patterns for alpine sweaters favor circular needles "
           "and stranded colorwork in traditional nordic motifs")

    mh = MinHashIndex.build(
        spark, spark.createDataFrame([], "doc_id bigint, text string"),
        str(tmp_path / "mh"), num_hashes=16, bands=4, n=2, n_buckets=8,
    )
    # the dense store already holds t_b's EMBEDDING under an unrelated id
    # (e.g. the same content previously ingested from another modality) —
    # the MinHash index has never seen t_b's text
    ivf = IVFIndex.build(
        spark,
        spark.createDataFrame(
            [(100, embed_text(t_b)), (101, embed_text("seed filler row"))],
            "doc_id bigint, embedding array<double>",
        ),
        str(tmp_path / "ivf"), num_clusters=2,
    )

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": t_a}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": t_b}) + "\n")
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    ckpt = str(tmp_path / "ckpt")
    stats: list = []
    args = dict(threshold=0.6, semantic_index=ivf, semantic_threshold=0.95,
                checkpoint=ckpt)
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        mh, sink, stats=stats, **args,
    )
    q.awaitTermination(60)
    # doc 2 passed the text gate but its embedding sits in the store at
    # similarity 1.0 → dropped; doc 1 accepted WITH its embedding column
    assert {r.doc_id for r in sink.read(spark).collect()} == {1}
    assert "embedding" in sink.read(spark).columns
    assert stats[-1] == {"epoch": 0, "accepted": 1, "dropped_as_dup": 1}
    assert {r.doc_id for r in ivf.vectors().collect()} == {100, 101, 1}
    assert mh.signatures().filter("doc = 1").count() == 1

    # batch 2: a near-copy of doc 1 (text gate catches it — doc 1 is now
    # in the MinHash index) and a genuinely novel doc (passes both)
    with open(src / "b2.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 3, "text": t_a.replace("executor", "worker")}) + "\n")
        fh.write(_json.dumps({"doc_id": 4, "text": t_c}) + "\n")
    stats2: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        mh, sink, stats=stats2, **args,
    )
    q.awaitTermination(60)
    assert {r.doc_id for r in sink.read(spark).collect()} == {1, 4}
    assert stats2[-1] == {"epoch": 1, "accepted": 1, "dropped_as_dup": 1}
    assert {r.doc_id for r in ivf.vectors().collect()} == {100, 101, 1, 4}


def test_stream_ingest_semantic_gate_standardized(spark, tmp_path):
    """The dual gate with a STANDARDIZED (whitened) dense index makes the
    same accept/drop decisions as the q111/q112 contract: a doc whose
    embedding already lives in the store is dropped (exact dup → cosine 1.0
    is invariant under standardize-and-renormalize), a novel doc is
    accepted and folds in THROUGH the profile (add transforms raw → index
    space). `compact()` (the `maintain` path) must preserve the persisted
    profile and not move a single decision."""
    import json as _json

    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.index_maint import fs_exists
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    t_a = ("distributed query planners split logical plans into physical "
           "stages before scheduling them across executor slots")
    t_b = ("the archive of maritime weather observations spans two hundred "
           "years of handwritten logbook entries from merchant vessels")
    t_c = ("knitting patterns for alpine sweaters favor circular needles "
           "and stranded colorwork in traditional nordic motifs")

    mh = MinHashIndex.build(
        spark, spark.createDataFrame([], "doc_id bigint, text string"),
        str(tmp_path / "mh"), num_hashes=16, bands=4, n=2, n_buckets=8,
    )
    ivf = IVFIndex.build(
        spark,
        spark.createDataFrame(
            [(100, embed_text(t_b)), (101, embed_text("seed filler row")),
             (102, embed_text("second filler for a stable profile"))],
            "doc_id bigint, embedding array<double>",
        ),
        str(tmp_path / "ivf"), num_clusters=2, standardize=True,
    )
    assert ivf.std_stats  # profile fitted and persisted
    assert fs_exists(spark, str(tmp_path / "ivf" / "standardize.json"))

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": t_a}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": t_b}) + "\n")
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    args = dict(threshold=0.6, semantic_index=ivf, semantic_threshold=0.95,
                checkpoint=str(tmp_path / "ckpt"))
    stats: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        mh, sink, stats=stats, **args,
    )
    q.awaitTermination(60)
    # same decisions as the non-standardized gate: doc 2's embedding is in
    # the store (dropped), doc 1 is novel (accepted + folded in)
    assert {r.doc_id for r in sink.read(spark).collect()} == {1}
    assert stats[-1] == {"epoch": 0, "accepted": 1, "dropped_as_dup": 1}
    assert {r.doc_id for r in ivf.vectors().collect()} == {100, 101, 102, 1}

    # maintain-path compaction: profile file survives, reload serves it,
    # and the gate's decisions are unmoved
    ivf.compact()
    assert fs_exists(spark, str(tmp_path / "ivf" / "standardize.json"))
    reloaded = IVFIndex.load(spark, str(tmp_path / "ivf"))
    assert reloaded.std_stats == ivf.std_stats

    with open(src / "b2.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 3, "text": t_a.replace("executor", "worker")}) + "\n")
        fh.write(_json.dumps({"doc_id": 4, "text": t_c}) + "\n")
    stats2: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        mh, sink, stats=stats2,
        threshold=0.6, semantic_index=reloaded, semantic_threshold=0.95,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)
    assert {r.doc_id for r in sink.read(spark).collect()} == {1, 4}
    assert stats2[-1] == {"epoch": 1, "accepted": 1, "dropped_as_dup": 1}
    assert {r.doc_id for r in reloaded.vectors().collect()} == {100, 101, 102, 1, 4}


def test_stream_ingest_ledger_replay_noop_and_assume_new(spark, tmp_path):
    """EpochLedger mode: the steady-state add runs assume_new=True (no
    full-corpus re-add anti-join in the plan), and a replayed epoch —
    the same file re-delivered as an already-committed epoch id — is a
    complete no-op (index untouched, add never invoked)."""
    import json as _json

    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 8)
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))

    add_calls: list = []
    orig_add = idx.add

    def spy_add(docs=None, **kw):
        add_calls.append(kw.get("assume_new"))
        return orig_add(docs, **kw)

    idx.add = spy_add

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({
            "doc_id": 1,
            "text": "a genuinely novel document about estuary sediment "
                    "transport measured across four tidal cycles"}) + "\n")
    schema = "doc_id long, text string"

    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src)), idx, sink,
        threshold=0.6, ledger=ledger,
    )
    q.awaitTermination(60)
    assert add_calls == [True]  # steady state: no corpus anti-join
    assert idx.signatures().count() == 1
    assert ledger.committed() == 0

    # no checkpoint → the restarted stream re-delivers the same file as
    # epoch 0 again: an exact replay of a committed epoch. Must be a no-op.
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src)), idx, sink,
        threshold=0.6, ledger=ledger,
    )
    q.awaitTermination(60)
    assert add_calls == [True]  # add never ran again
    assert idx.signatures().count() == 1

    # crash-replay path: an epoch marked started but never committed (a
    # prior attempt died mid-add) retries with the GUARDED anti-join add
    idx2 = MinHashIndex.build(spark, empty, str(tmp_path / "mh2"), 16, 4, 2, 8)
    ledger2 = EpochLedger(spark, str(tmp_path / "ledger2"))
    ledger2.mark_started(0)  # the dead attempt's trace
    add_calls2: list = []
    orig_add2 = idx2.add

    def spy_add2(docs=None, **kw):
        add_calls2.append(kw.get("assume_new"))
        return orig_add2(docs, **kw)

    idx2.add = spy_add2
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src)), idx2,
        ParquetAcceptedSink(str(tmp_path / "accepted2")),
        threshold=0.6, ledger=ledger2,
    )
    q.awaitTermination(60)
    assert add_calls2 == [False]  # guarded retry, exactly once
    assert idx2.signatures().count() == 1
    assert ledger2.committed() == 0


def test_stream_ingest_auto_compaction_bounds_files(spark, tmp_path):
    """Long streams with per-epoch adds fragment the index into one file
    per (epoch, partition); compact_every keeps the live file count
    bounded while screen results stay exact throughout."""
    import json as _json

    from ocr_vector_db_spark.operators.index_maint import (
        EpochLedger,
        parquet_file_count,
    )
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    texts = [
        "orbital mechanics of low thrust transfers between lagrange points",
        "fermentation kinetics of sourdough cultures at varying hydration",
        "load balancing strategies for anycast routed content networks",
        "comparative anatomy of cephalopod photoreceptor arrangements",
        "amortized analysis of splay tree access sequences in practice",
        "watershed management policy in semi arid river basins today",
    ]
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 4)
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))

    src = tmp_path / "docs"
    src.mkdir()
    for i, t in enumerate(texts):
        with open(src / f"d{i}.json", "w") as fh:
            fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = stream_ingest_deduped(
        stream, idx, sink, threshold=0.6,
        ledger=ledger, checkpoint=str(tmp_path / "ck"),
        compact_every=2,
    )
    # 6 single-file micro-batches, each an index add + every-2nd-epoch
    # compaction: generous bound — awaitTermination returns the moment
    # the available-now query finishes, so the slack is free when
    # healthy, and 120s measurably flaked at the contended tail of a
    # full-suite run (5/6 batches folded before the timeout)
    q.awaitTermination(360)

    assert idx.signatures().count() == len(texts)  # all distinct → accepted
    # one file per epoch would be ≥ 6 signature files; compaction at every
    # 2nd epoch bounds the live layout
    assert parquet_file_count(str(tmp_path / "mh" / "signatures")) <= 2
    assert parquet_file_count(str(tmp_path / "mh" / "bands")) <= 4
    # screens stay exact after compaction: a near-copy of an indexed doc
    # gates out, a novel doc passes
    probe = spark.createDataFrame(
        [(100, texts[2].replace("today", "now")),
         (101, "entirely new subject matter on alpine lichen growth")],
        "doc_id bigint, text string",
    )
    kept = {r.doc_id for r in idx.dedup_new(probe, threshold=0.6).collect()}
    assert kept == {101}


def test_dense_dropped_ids_blocked_matches_exact(spark, tmp_path):
    """IVFIndex.dense_dropped_ids: keep-min intra-batch dense drop set;
    the centroid-blocked (nprobe=2) pass agrees with the exact all-pairs
    (nprobe=None) pass when dups are true near-identicals."""
    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex

    ivf = IVFIndex.build(
        spark,
        spark.createDataFrame(
            [(100, embed_text("seed one")), (101, embed_text("seed two"))],
            "vec_id bigint, embedding array<double>",
        ),
        str(tmp_path / "ivf"), num_clusters=2,
    )
    e = embed_text("identical content")
    batch = spark.createDataFrame(
        [(10, e), (11, e), (12, embed_text("something else entirely"))],
        "vec_id bigint, embedding array<double>",
    )
    exact = {r.vec_id for r in
             ivf.dense_dropped_ids(batch, 0.95, nprobe=None).collect()}
    blocked = {r.vec_id for r in
               ivf.dense_dropped_ids(batch, 0.95, nprobe=2).collect()}
    assert exact == blocked == {11}  # keep-min: 10 survives


def test_stream_ingest_dense_gate_drops_same_batch_semantic_dups(
    spark, tmp_path
):
    """Round-6 blind spot, closed: two TEXTUALLY-disjoint docs carrying
    IDENTICAL source embeddings arrive in ONE micro-batch — the store
    screen sees only previous batches, so only the intra-batch dense pass
    can catch them. Only the min-id doc may survive."""
    import json as _json

    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    mh = MinHashIndex.build(
        spark, spark.createDataFrame([], "doc_id bigint, text string"),
        str(tmp_path / "mh"), num_hashes=16, bands=4, n=2, n_buckets=8,
    )
    ivf = IVFIndex.build(
        spark,
        spark.createDataFrame(
            [(100, embed_text("seed one")), (101, embed_text("seed two"))],
            "doc_id bigint, embedding array<double>",
        ),
        str(tmp_path / "ivf"), num_clusters=2,
    )
    # same vector, textually unrelated content (an upstream multimodal
    # embedder can map different surface text to one embedding)
    shared = embed_text("the shared semantic payload")
    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({
            "doc_id": 7, "text": "maritime salvage law in the north sea",
            "embedding": shared}) + "\n")
        fh.write(_json.dumps({
            "doc_id": 5, "text": "alpine knitting with stranded colorwork",
            "embedding": shared}) + "\n")
    stats: list = []
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    q = stream_ingest_deduped(
        spark.readStream
        .schema("doc_id long, text string, embedding array<double>")
        .json(str(src)),
        mh, sink, threshold=0.6, stats=stats,
        checkpoint=str(tmp_path / "ckpt"),
        semantic_index=ivf, semantic_threshold=0.95,
    )
    q.awaitTermination(60)
    assert {r.doc_id for r in sink.read(spark).collect()} == {5}  # keep-min
    assert stats[-1] == {"epoch": 0, "accepted": 1, "dropped_as_dup": 1}
    assert {r.doc_id for r in ivf.vectors().collect()} == {100, 101, 5}


def test_stream_ingest_repairs_dense_gate_after_crash_between_adds(
    spark, tmp_path
):
    """ADVICE crash window: a prior attempt died BETWEEN the MinHash
    index.add and semantic_index.add. On the guarded replay the text gate
    drops the whole batch (est_jaccard 1.0 vs itself), so the dense add
    must be re-derived from the epoch's sink rows — without the repair the
    epoch's vectors would be permanently absent from the dense gate."""
    import json as _json

    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    text = ("estuary sediment transport measured across four tidal cycles "
            "with calibrated acoustic doppler profilers")
    mh = MinHashIndex.build(
        spark, spark.createDataFrame([], "doc_id bigint, text string"),
        str(tmp_path / "mh"), num_hashes=16, bands=4, n=2, n_buckets=8,
    )
    ivf = IVFIndex.build(
        spark,
        spark.createDataFrame(
            [(100, embed_text("seed one")), (101, embed_text("seed two"))],
            "doc_id bigint, embedding array<double>",
        ),
        str(tmp_path / "ivf"), num_clusters=2,
    )
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))

    # simulate the dead attempt: sink written, text index folded, dense
    # index NOT — crash before semantic_index.add, before mark_committed
    accepted = spark.createDataFrame(
        [(1, text, embed_text(text))],
        "doc_id long, text string, embedding array<double>",
    )
    sink.write(accepted, 0)
    mh.add(accepted.select("doc_id", "text"))
    ledger.mark_started(0)
    assert {r.doc_id for r in ivf.vectors().collect()} == {100, 101}

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": text}) + "\n")
    # no checkpoint → the file re-delivers as epoch 0: the guarded retry
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        mh, sink, threshold=0.6, ledger=ledger,
        semantic_index=ivf, semantic_threshold=0.95,
    )
    q.awaitTermination(60)
    # the dense gate now holds epoch 0's vector; nothing duplicated
    assert {r.doc_id for r in ivf.vectors().collect()} == {100, 101, 1}
    assert ivf.vectors().filter("doc_id = 1").count() == 1
    assert mh.signatures().filter("doc = 1").count() == 1
    assert ledger.committed() == 0

    # a fully-committed epoch replay stays a total no-op (repair included)
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        mh, sink, threshold=0.6, ledger=ledger,
        semantic_index=ivf, semantic_threshold=0.95,
    )
    q.awaitTermination(60)
    assert ivf.vectors().filter("doc_id = 1").count() == 1


def test_stream_ingest_semantic_gate_rejects_dim_mismatch(spark, tmp_path):
    """ADVICE: a source-provided embedding whose dimension disagrees with
    the gate index must fail loudly — zip_with would null-pad, similarity
    would evaluate null, and every dup would silently pass the gate."""
    import json as _json

    import pytest as _pytest

    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    mh = MinHashIndex.build(
        spark, spark.createDataFrame([], "doc_id bigint, text string"),
        str(tmp_path / "mh"), num_hashes=16, bands=4, n=2, n_buckets=8,
    )
    ivf = IVFIndex.build(
        spark,
        spark.createDataFrame(
            [(100, embed_text("seed one")), (101, embed_text("seed two"))],
            "doc_id bigint, embedding array<double>",
        ),
        str(tmp_path / "ivf"), num_clusters=2,
    )
    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({
            "doc_id": 1, "text": "some novel content here",
            "embedding": [0.5, 0.5, 0.5]}) + "\n")  # 3 dims vs index's 64
    q = stream_ingest_deduped(
        spark.readStream
        .schema("doc_id long, text string, embedding array<double>")
        .json(str(src)),
        mh, ParquetAcceptedSink(str(tmp_path / "accepted")),
        threshold=0.6, checkpoint=str(tmp_path / "ckpt"),
        semantic_index=ivf, semantic_threshold=0.95,
    )
    with _pytest.raises(Exception, match="semantic gate|USER_RAISED"):
        q.awaitTermination(60)
        raise AssertionError("expected the stream to fail on dim mismatch")


def test_stream_ingest_hierarchical_dense_gate(spark, tmp_path):
    """`semantic_branches`: the dual-gate stream runs a HIERARCHICAL
    dense-gate index through the L1→L2 join on every assignment (intra
    pass, store screen, fold-in add) — nothing num_clusters-sized is
    broadcast inside the stream. With branches == |L1| the gating
    decisions match the flat screens: an intra-batch semantic dup and a
    stored-embedding dup both drop, the novel doc survives and folds in."""
    import json as _json

    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    mh = MinHashIndex.build(
        spark, spark.createDataFrame([], "doc_id bigint, text string"),
        str(tmp_path / "mh"), num_hashes=16, bands=4, n=2, n_buckets=8,
    )
    stored = embed_text("previously ingested payload")
    seeds = [(100, stored)] + [
        (101 + i, embed_text(f"seed filler {i}")) for i in range(7)
    ]
    ivf = IVFIndex.build(
        spark,
        spark.createDataFrame(seeds, "doc_id bigint, embedding array<double>"),
        str(tmp_path / "ivf"), num_clusters=4, l1_branches=2,
    )
    assert ivf.l1  # genuinely hierarchical

    shared = embed_text("the shared semantic payload")
    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        # 7/5: same-batch semantic dup pair (keep-min → 5 survives the
        # intra pass); 6: embedding already in the store → store screen
        # drops it; 5 is also novel vs the store → accepted
        fh.write(_json.dumps({
            "doc_id": 7, "text": "maritime salvage law in the north sea",
            "embedding": shared}) + "\n")
        fh.write(_json.dumps({
            "doc_id": 5, "text": "alpine knitting with stranded colorwork",
            "embedding": shared}) + "\n")
        fh.write(_json.dumps({
            "doc_id": 6, "text": "orbit transfers between lagrange points",
            "embedding": stored}) + "\n")
    stats: list = []
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    q = stream_ingest_deduped(
        spark.readStream
        .schema("doc_id long, text string, embedding array<double>")
        .json(str(src)),
        mh, sink, threshold=0.6, stats=stats,
        checkpoint=str(tmp_path / "ckpt"),
        semantic_index=ivf, semantic_threshold=0.95,
        semantic_intra_nprobe=4, semantic_branches=2,
    )
    q.awaitTermination(60)
    assert {r.doc_id for r in sink.read(spark).collect()} == {5}
    assert stats[-1] == {"epoch": 0, "accepted": 1, "dropped_as_dup": 2}
    got = {r.doc_id for r in ivf.vectors().collect()}
    assert got == {100, 101, 102, 103, 104, 105, 106, 107, 5}


def test_stream_ingest_running_sample(spark, tmp_path):
    """Streaming A-ES fold wired into the ingest gate: after N epochs the
    persisted RunningSample equals weighted_sample over the ACCEPTED
    corpus exactly; a crashed epoch's guarded retry re-folds from the
    epoch's own sink rows (id-idempotent, so never a double count)."""
    import json as _json

    from ocr_vector_db_spark.operators import sampling
    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    texts = {
        i: f"document {i} with distinct prose about topic {i * 37} and "
           f"sufficient words {'x' * (i % 5)} to hash on"
        for i in range(1, 7)
    }
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 8)
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    rs = sampling.RunningSample(spark, str(tmp_path / "sample"), 3, "w")
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))
    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, w long"

    # three epochs of two docs each; weight = 10*id so the draw is spread
    for e, ids in enumerate([(1, 2), (3, 4), (5, 6)]):
        with open(src / f"b{e}.json", "w") as fh:
            for i in ids:
                fh.write(_json.dumps(
                    {"doc_id": i, "text": texts[i], "w": 10 * i}) + "\n")
        q = stream_ingest_deduped(
            spark.readStream.schema(schema).json(str(src)), idx, sink,
            threshold=0.6, checkpoint=ckpt, ledger=ledger, sample=rs,
        )
        q.awaitTermination(60)

    accepted = sink.read(spark)
    assert accepted.count() == 6  # all distinct — nothing gated
    want = [tuple(r) for r in
            sampling.weighted_sample(accepted, 3, "w").collect()]
    assert [tuple(r) for r in rs.current().collect()] == want

    # crash window: a prior attempt wrote the sink rows and grew the index
    # but died BEFORE the sample fold (and the ledger commit). On the
    # guarded retry `fresh` comes back empty (dedup_new drops the already-
    # indexed docs), so the normal fold never runs — the repair must
    # re-fold from the epoch's own sink slice.
    rs2 = sampling.RunningSample(spark, str(tmp_path / "sample2"), 3, "w")
    ledger2 = EpochLedger(spark, str(tmp_path / "ledger2"))
    idx2 = MinHashIndex.build(
        spark, empty, str(tmp_path / "mh2"), 16, 4, 2, 8,
    )
    sink2 = ParquetAcceptedSink(str(tmp_path / "accepted2"))
    src2 = tmp_path / "docs2"
    src2.mkdir()
    ckpt2 = str(tmp_path / "ckpt2")
    for e, ids in enumerate([(1, 2), (3, 4)]):
        with open(src2 / f"b{e}.json", "w") as fh:
            for i in ids:
                fh.write(_json.dumps(
                    {"doc_id": i, "text": texts[i], "w": 10 * i}) + "\n")
        q = stream_ingest_deduped(
            spark.readStream.schema(schema).json(str(src2)), idx2, sink2,
            threshold=0.6, checkpoint=ckpt2, ledger=ledger2, sample=rs2,
        )
        q.awaitTermination(60)
    # the dead attempt's trace for epoch 2: sink written, index grown,
    # started marked — sample NOT folded, commit never reached
    e2 = spark.createDataFrame(
        [(i, texts[i], 10 * i) for i in (5, 6)],
        "doc_id bigint, text string, w bigint",
    )
    sink2.write(e2, 2)
    idx2.add(e2)
    ledger2.mark_started(2)
    with open(src2 / "b2.json", "w") as fh:
        for i in (5, 6):
            fh.write(_json.dumps(
                {"doc_id": i, "text": texts[i], "w": 10 * i}) + "\n")
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src2)), idx2, sink2,
        threshold=0.6, checkpoint=ckpt2, ledger=ledger2, sample=rs2,
    )
    q.awaitTermination(60)
    assert [tuple(r) for r in rs2.current().collect()] == want


def test_stream_ingest_lm_quality_gate(spark, tmp_path):
    """lm_gate drops docs whose LM cross-entropy falls outside the
    [lo, hi] band BEFORE the dedup gates (they never fold into any
    index); no-bigram docs pass; stats separate quality drops from dup
    drops."""
    import json as _json

    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.operators.ngram_lm_index import NgramLMIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    # corpus LM: ordinary prose establishes the mid band
    corpus = spark.createDataFrame(
        [(i, "the model reads the corpus and the model scores the corpus "
             f"with calibrated statistics batch {i}") for i in range(10)],
        "doc_id bigint, text string",
    )
    lm = NgramLMIndex.build(spark, corpus, str(tmp_path / "lm"), n_buckets=8)
    # calibrate the band from known-good prose
    mid = lm.score_batch(corpus).agg({"avg_neg_logprob": "avg"}).head()[0]
    lo, hi = 0.0, mid + 1.0

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 8)
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        # in-band: reuses corpus phrasing → low cross-entropy, accepted
        (1, "the model reads the corpus and the model scores the corpus"),
        # out-of-band noise: unseen tokens → high cross-entropy, dropped
        (2, "zq xv qj wk pf gh bn mm tt rr ee uu ii oo pp aa ss dd ff"),
        # single token: no bigram evidence → passes the gate
        (3, "solo"),
    ]
    with open(src / "b.json", "w") as fh:
        for i, t in rows:
            fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    stats: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        idx, sink, threshold=0.6, stats=stats,
        lm_gate=(lm, lo, hi),
    )
    q.awaitTermination(60)
    assert {r.doc_id for r in sink.read(spark).collect()} == {1, 3}
    assert stats[-1]["accepted"] == 2
    assert stats[-1]["dropped_low_quality"] == 1
    assert stats[-1]["dropped_as_dup"] == 0
    # the noise doc never reached the dedup index
    assert idx.signatures().filter("doc = 2").count() == 0


def test_stream_ingest_vocab_sketch(spark, tmp_path):
    """HLL vocabulary fold wired into the ingest gate: after N epochs the
    persisted registers equal a scratch build over the ACCEPTED corpus
    exactly; a crashed epoch's guarded retry re-folds from the epoch's
    sink slice (register MAX is content-idempotent — never moves)."""
    import json as _json

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.operators.sketches import (
        HLLSketch, hll_registers,
    )
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        _stream_tokens,
        stream_ingest_deduped,
    )

    texts = {
        i: f"document {i} with distinct prose about topic {i * 37} and "
           f"sufficient words {'x' * (i % 5)} to hash on"
        for i in range(1, 7)
    }
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 8)
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    sk = HLLSketch.build(
        spark, empty, str(tmp_path / "hll"), F.col("text"), p=8
    )
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))
    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    for e, ids in enumerate([(1, 2), (3, 4), (5, 6)]):
        with open(src / f"b{e}.json", "w") as fh:
            for i in ids:
                fh.write(_json.dumps(
                    {"doc_id": i, "text": texts[i]}) + "\n")
        q = stream_ingest_deduped(
            spark.readStream.schema(schema).json(str(src)), idx, sink,
            threshold=0.6, checkpoint=ckpt, ledger=ledger, vocab_sketch=sk,
        )
        q.awaitTermination(60)

    accepted = sink.read(spark)
    assert accepted.count() == 6
    want = sorted(
        (r.bucket, r.r)
        for r in hll_registers(
            _stream_tokens(accepted, "text"), F.col("__tok"), 8
        ).collect()
    )
    assert sorted((r.bucket, r.r) for r in sk.registers().collect()) == want

    # crash window: sink rows landed, ledger shows started-not-committed,
    # sketch fold never ran — the guarded retry must repair from the sink
    sk2 = HLLSketch.build(
        spark, empty, str(tmp_path / "hll2"), F.col("text"), p=8
    )
    ledger2 = EpochLedger(spark, str(tmp_path / "ledger2"))
    idx2 = MinHashIndex.build(spark, empty, str(tmp_path / "mh2"),
                              16, 4, 2, 8)
    sink2 = ParquetAcceptedSink(str(tmp_path / "accepted2"))
    batch = spark.createDataFrame(
        [(i, texts[i]) for i in (1, 2)], "doc_id long, text string"
    )
    sink2.write(batch, 0)
    idx2.add(batch, id_col="doc_id", text_col="text")
    ledger2.mark_started(0)  # died before fold + commit

    src2 = tmp_path / "docs2"
    src2.mkdir()
    with open(src2 / "b0.json", "w") as fh:
        for i in (1, 2):
            fh.write(_json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src2)), idx2, sink2,
        threshold=0.6, checkpoint=str(tmp_path / "ckpt2"),
        ledger=ledger2, vocab_sketch=sk2,
    )
    q.awaitTermination(60)
    want2 = sorted(
        (r.bucket, r.r)
        for r in hll_registers(
            _stream_tokens(batch, "text"), F.col("__tok"), 8
        ).collect()
    )
    assert sorted((r.bucket, r.r) for r in sk2.registers().collect()) == want2


def test_stream_ingest_drift_baseline(spark, tmp_path):
    """PSI drift baseline wired into the ingest gate: per-epoch arrival
    PSI lands in stats, accepted docs fold in epoch-guarded (a crashed
    epoch's retry repairs from the sink slice without double-counting),
    and the final counts equal a scratch fold over the accepted corpus."""
    import json as _json

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.drift import DriftBaseline
    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    texts = {
        i: f"document {i} with distinct prose about topic {i * 37} and "
           f"sufficient words {'x' * (i % 5)} to hash on"
        for i in range(1, 7)
    }
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 8)
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    seed = spark.createDataFrame(
        [(len(t),) for t in texts.values()], "n_chars bigint"
    )
    bl = DriftBaseline.build(spark, seed, "n_chars",
                             str(tmp_path / "bl"), bins=4)
    base_n = bl._sub("meta").head().n
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))
    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    stats: list = []

    for e, ids in enumerate([(1, 2), (3, 4)]):
        with open(src / f"b{e}.json", "w") as fh:
            for i in ids:
                fh.write(_json.dumps(
                    {"doc_id": i, "text": texts[i]}) + "\n")
        q = stream_ingest_deduped(
            spark.readStream.schema(schema).json(str(src)), idx, sink,
            threshold=0.6, checkpoint=ckpt, ledger=ledger,
            drift_baseline=bl, stats=stats,
        )
        q.awaitTermination(60)

    # every epoch reported a PSI against the seed distribution
    assert [s["epoch"] for s in stats] == [0, 1]
    assert all("psi" in s and s["psi"] >= 0.0 for s in stats)
    # accepted docs folded in: n grew by exactly the 4 accepted docs
    meta = bl._sub("meta").head()
    assert meta.n == base_n + 4 and meta.last_epoch == 1
    # folded hist ≡ scratch: seed + accepted lengths under frozen bins
    accepted = sink.read(spark)
    lens = accepted.select(F.length("text").alias("__dv"))
    scratch = DriftBaseline.build(spark, seed, "n_chars",
                                  str(tmp_path / "bl_s"), bins=4)
    scratch.fold(lens, "__dv")
    a = sorted((r.bin, r.cnt) for r in bl._sub("hist").collect())
    b = sorted((r.bin, r.cnt) for r in scratch._sub("hist").collect())
    assert a == b

    # replayed epoch: fold is a no-op (epoch guard), psi still reported
    with open(src / "b0.json", "w") as fh:  # rewrite same file: no new data
        for i in (1, 2):
            fh.write(_json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
    n_before = bl._sub("meta").head().n
    # crash-window shape: mark epoch started-not-committed with sink rows
    # already landed — the guarded retry must NOT double-count
    batch = spark.createDataFrame(
        [(9, texts[5])], "doc_id long, text string"
    )
    sink.write(batch, 7)
    ledger.mark_started(7)
    bl.fold(batch.select(F.length("text").alias("__dv")), "__dv", epoch=7)
    # retry of epoch 7 re-folds from the sink slice: guard no-ops it
    bl.fold(batch.select(F.length("text").alias("__dv")), "__dv", epoch=7)
    assert bl._sub("meta").head().n == n_before + 1


def test_stream_ingest_tokenfreq_sketch(spark, tmp_path):
    """Count-min token-frequency fold wired into the ingest gate: after N
    epochs the persisted cells equal a scratch build over the ACCEPTED
    corpus bit-for-bit. SUM is not idempotent, so both crash windows are
    exercised: (a) died before the fold — the guarded retry repairs from
    the epoch's sink slice; (b) died AFTER the fold but before the ledger
    commit — the sketch's `_last_epoch` generation marker makes the
    retry's re-fold a no-op (no double count)."""
    import json as _json

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.operators.sketches import CMSketch, cm_cells
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        _stream_tokens,
        stream_ingest_deduped,
    )

    texts = {
        i: f"document {i} with distinct prose about topic {i * 37} and "
           f"sufficient words {'x' * (i % 5)} to hash on"
        for i in range(1, 7)
    }
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    schema = "doc_id long, text string"

    def cm_snapshot(sk):
        return sorted((r.row, r.col, r.cnt) for r in sk.cells().collect())

    def scratch(docs):
        return sorted(
            (r.row, r.col, r.cnt)
            for r in cm_cells(
                _stream_tokens(docs, "text"), F.col("__tok"), 256, 3
            ).collect()
        )

    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 8)
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    sk = CMSketch.build(
        spark, empty, str(tmp_path / "cm"), F.col("text"), w=256, d=3
    )
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))
    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    for e, ids in enumerate([(1, 2), (3, 4), (5, 6)]):
        with open(src / f"b{e}.json", "w") as fh:
            for i in ids:
                fh.write(_json.dumps(
                    {"doc_id": i, "text": texts[i]}) + "\n")
        q = stream_ingest_deduped(
            spark.readStream.schema(schema).json(str(src)), idx, sink,
            threshold=0.6, checkpoint=ckpt, ledger=ledger,
            tokenfreq_sketch=sk,
        )
        q.awaitTermination(60)
    accepted = sink.read(spark)
    assert accepted.count() == 6
    assert cm_snapshot(sk) == scratch(accepted)
    assert sk.last_epoch() == 2

    # (a) crash before the fold: sink rows + index add landed, ledger
    # started-not-committed, sketch untouched — retry repairs from sink
    sk2 = CMSketch.build(
        spark, empty, str(tmp_path / "cm2"), F.col("text"), w=256, d=3
    )
    ledger2 = EpochLedger(spark, str(tmp_path / "ledger2"))
    idx2 = MinHashIndex.build(spark, empty, str(tmp_path / "mh2"),
                              16, 4, 2, 8)
    sink2 = ParquetAcceptedSink(str(tmp_path / "accepted2"))
    batch = spark.createDataFrame(
        [(i, texts[i]) for i in (1, 2)], "doc_id long, text string"
    )
    sink2.write(batch, 0)
    idx2.add(batch, id_col="doc_id", text_col="text")
    ledger2.mark_started(0)  # died before fold + commit
    src2 = tmp_path / "docs2"
    src2.mkdir()
    with open(src2 / "b0.json", "w") as fh:
        for i in (1, 2):
            fh.write(_json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src2)), idx2, sink2,
        threshold=0.6, checkpoint=str(tmp_path / "ckpt2"),
        ledger=ledger2, tokenfreq_sketch=sk2,
    )
    q.awaitTermination(60)
    assert cm_snapshot(sk2) == scratch(batch)

    # (b) crash after the fold: the marker is already at the epoch, so
    # the retry's guarded re-fold must NOT double-count
    sk3 = CMSketch.build(
        spark, empty, str(tmp_path / "cm3"), F.col("text"), w=256, d=3
    )
    ledger3 = EpochLedger(spark, str(tmp_path / "ledger3"))
    idx3 = MinHashIndex.build(spark, empty, str(tmp_path / "mh3"),
                              16, 4, 2, 8)
    sink3 = ParquetAcceptedSink(str(tmp_path / "accepted3"))
    sink3.write(batch, 0)
    idx3.add(batch, id_col="doc_id", text_col="text")
    sk3.add(_stream_tokens(batch, "text"), F.col("__tok"), epoch=0)
    ledger3.mark_started(0)  # died AFTER the fold, before commit
    q = stream_ingest_deduped(
        spark.readStream.schema(schema).json(str(src2)), idx3, sink3,
        threshold=0.6, checkpoint=str(tmp_path / "ckpt3"),
        ledger=ledger3, tokenfreq_sketch=sk3,
    )
    q.awaitTermination(60)
    assert cm_snapshot(sk3) == scratch(batch)  # folded exactly once


def test_stream_ingest_retry_after_crash_before_sink_write(spark, tmp_path):
    """Crash window: a prior attempt marked the epoch started and died
    before its sink write, so nothing of it landed. The guarded retry
    accepts the whole batch, writes the epoch's slice, and folds every
    accepted-row consumer exactly once: token-frequency cells and HLL
    registers equal a scratch build, the drift baseline counts n more
    docs, and the sample is the one weighted_sample draws."""
    import json as _json

    from ocr_vector_db_spark.operators import sampling
    from ocr_vector_db_spark.operators.drift import DriftBaseline
    from ocr_vector_db_spark.operators.index_maint import EpochLedger
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.operators.sketches import (
        CMSketch, HLLSketch, cm_cells, hll_registers,
    )
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        _stream_tokens,
        stream_ingest_deduped,
    )

    texts = {
        i: f"document {i} with distinct prose about topic {i * 37} and "
           f"sufficient words {'x' * (i % 5)} to hash on"
        for i in range(1, 5)
    }
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    idx = MinHashIndex.build(spark, empty, str(tmp_path / "mh"), 16, 4, 2, 8)
    sink = ParquetAcceptedSink(str(tmp_path / "accepted"))
    rs = sampling.RunningSample(spark, str(tmp_path / "sample"), 2, "__len")
    hll = HLLSketch.build(spark, empty, str(tmp_path / "hll"),
                          F.col("text"), p=8)
    cm = CMSketch.build(spark, empty, str(tmp_path / "cm"), F.col("text"),
                        w=256, d=3)
    seed = spark.createDataFrame([(40,), (90,)], "n_chars bigint")
    bl = DriftBaseline.build(spark, seed, "n_chars", str(tmp_path / "bl"),
                             bins=4)
    base_n = bl._sub("meta").head().n
    ledger = EpochLedger(spark, str(tmp_path / "ledger"))
    ledger.mark_started(0)  # the dead attempt: started, nothing written

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b0.json", "w") as fh:
        for i, t in texts.items():
            fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    stats: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        idx, sink, threshold=0.6, stats=stats, ledger=ledger, sample=rs,
        vocab_sketch=hll, tokenfreq_sketch=cm, drift_baseline=bl,
    )
    q.awaitTermination(60)

    assert stats[-1]["accepted"] == len(texts) and ledger.committed() == 0
    slice0 = sink.read_epoch(spark, 0)
    assert sorted(r.doc_id for r in slice0.collect()) == sorted(texts)
    toks = _stream_tokens(slice0, "text")
    assert sorted((r.row, r.col, r.cnt) for r in cm.cells().collect()) == \
        sorted((r.row, r.col, r.cnt)
               for r in cm_cells(toks, F.col("__tok"), 256, 3).collect())
    assert cm.last_epoch() == 0
    assert sorted((r.bucket, r.r) for r in hll.registers().collect()) == \
        sorted((r.bucket, r.r)
               for r in hll_registers(toks, F.col("__tok"), 8).collect())
    meta = bl._sub("meta").head()
    assert meta.n == base_n + len(texts) and meta.last_epoch == 0
    want = sampling.weighted_sample(
        slice0.withColumn("__len", F.length("text")), 2, "__len"
    )
    assert [tuple(r) for r in rs.current().collect()] == \
        [tuple(r) for r in want.collect()]


def test_text_gate_computes_signatures_once_per_batch(spark, tmp_path,
                                                      monkeypatch):
    """The text gate's signatures-once seam (the assets-gate discipline
    extended to MinHash): one micro-batch shingles+hashes exactly ONCE —
    minhash_dropped_ids, the corpus screen and the index fold all
    consume the one materialized signature DataFrame."""
    import json as _json

    from ocr_vector_db_spark.operators import dedup as _dedup
    from ocr_vector_db_spark.operators import minhash_index as _mhi
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    idx = MinHashIndex.build(
        spark, spark.createDataFrame([], "doc_id bigint, text string"),
        str(tmp_path / "mh_once"), num_hashes=16, bands=4, n=2,
        n_buckets=8,
    )
    calls = []
    orig = _dedup.minhash_signatures

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    # both namespaces bind the function at import time — patch each
    monkeypatch.setattr(_dedup, "minhash_signatures", counting)
    monkeypatch.setattr(_mhi, "minhash_signatures", counting)

    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet green field toward the river")
    src = tmp_path / "docs_once"
    src.mkdir()
    with open(src / "b1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")
        fh.write(_json.dumps(
            {"doc_id": 2, "text": base.replace("river", "ocean")}) + "\n")
        fh.write(_json.dumps(
            {"doc_id": 3, "text": "completely unrelated maritime salvage "
                                  "filing about recovered cargo value "
                                  "apportionment rights"}) + "\n")
    stats: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        idx, ParquetAcceptedSink(str(tmp_path / "acc_once")),
        threshold=0.6, stats=stats, checkpoint=str(tmp_path / "ckpt_once"),
    )
    q.awaitTermination(60)
    assert len(calls) == 1
    assert stats[-1]["accepted"] == 2           # keep-min dropped doc 2
    assert stats[-1]["dropped_as_dup"] == 1
    assert sorted(r.doc for r in idx.signatures().collect()) == [1, 3]
