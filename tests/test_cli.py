"""CLI surface test: ingest → search → quality → metrics → delete through
main(), against a temp store (reuses the session fixture's JVM)."""

import json

from ocr_vector_db_spark import cli


def test_cli_lifecycle(spark, tmp_path, capsys):
    doc = tmp_path / "notes.md"
    doc.write_text(
        "Broadcast joins avoid shuffles when one side is small enough.\n\n"
        "```python\ndf.join(broadcast(dim), 'k')\n```\n"
    )
    store = str(tmp_path / "store")

    assert cli.main(["ingest", str(doc), "--store", store, "--dim", "16"]) == 0
    out = capsys.readouterr().out
    assert "[ingest] stored" in out

    assert cli.main([
        "search", "python broadcast join code", "--store", store,
        "--dim", "16", "--top-k", "5", "--json",
    ]) == 0
    results = json.loads(capsys.readouterr().out)
    assert results and all("similarity" in r for r in results)
    assert any("broadcast" in r["content"] for r in results)

    golden = tmp_path / "golden.jsonl"
    golden.write_text(json.dumps(
        {"query": "broadcast join", "top_k": 20, "expect_contains": ["broadcast"]}
    ) + "\n")
    assert cli.main(["quality", "--store", store, "--dim", "16",
                     "--golden", str(golden)]) == 0
    assert "passed 1/1" in capsys.readouterr().out

    assert cli.main(["metrics", "--store", store, "--dim", "16"]) == 0
    assert "total_rows" in capsys.readouterr().out

    assert cli.main(["delete", str(doc), "--store", store, "--dim", "16"]) == 0
    assert '"documents": 0' in capsys.readouterr().out

    # re-ingest after delete is idempotent (same ids, no duplicates)
    assert cli.main(["ingest", str(doc), "--store", store, "--dim", "16"]) == 0
    assert cli.main(["ingest", str(doc), "--store", store, "--dim", "16"]) == 0
    capsys.readouterr()
    assert cli.main(["metrics", "--store", store, "--dim", "16"]) == 0
    metrics_line = capsys.readouterr().out.splitlines()[0]
    m = json.loads(metrics_line.split("[metrics] ")[1])
    assert m["total_rows"] == m["distinct_doc_ids"]  # no duplicate embeddings


def test_cli_ingest_appends_new_paths_without_rewriting(spark, tmp_path,
                                                       capsys):
    """Ingesting a path the store does not hold appends into the live
    generations (no cascade-delete rewrite); re-ingesting a stored path
    replaces its tree without duplicating rows."""
    from ocr_vector_db_spark.operators.index_maint import (
        committed_generations,
    )
    from ocr_vector_db_spark.storage import EntityStore

    docs = []
    for name in ("a", "b"):
        doc = tmp_path / f"{name}.md"
        doc.write_text(f"Prose about topic {name} long enough to pass "
                       f"validation.\n\n```python\ndef {name}():\n"
                       "    return 1\n```\n")
        docs.append(str(doc))
    store = str(tmp_path / "store")
    assert cli.main(["ingest", docs[0], "--store", store, "--dim", "16"]) == 0
    gens = committed_generations(spark, store + "/documents")
    assert cli.main(["ingest", docs[1], "--store", store, "--dim", "16"]) == 0
    assert committed_generations(spark, store + "/documents") == gens

    st = EntityStore(spark, store)
    counts = {t: st.read(t).count() for t in st.TABLES}
    assert cli.main(["ingest", docs[0], "--store", store, "--dim", "16"]) == 0
    capsys.readouterr()
    assert {t: st.read(t).count() for t in st.TABLES} == counts
    for table in ("documents", "concepts", "fragments", "parents"):
        ids = st.read(table).select("id")
        assert ids.count() == ids.distinct().count(), table


def test_cli_hybrid_search_and_pack(spark, tmp_path, capsys):
    doc = tmp_path / "guide.md"
    doc.write_text(
        "Shuffle partitions control parallelism in wide transformations.\n\n"
        "Broadcast joins avoid shuffles when one side is small.\n\n"
        "```python\ndf.join(broadcast(dim), 'k')\n```\n"
    )
    store = str(tmp_path / "store")
    assert cli.main(["ingest", str(doc), "--store", store, "--dim", "16"]) == 0
    capsys.readouterr()

    assert cli.main(["hybrid-search", "broadcast joins shuffles", "--store", store,
                     "--dim", "16", "--top-k", "3"]) == 0
    out = capsys.readouterr().out
    assert "rrf=" in out and "#1" in out

    assert cli.main(["pack", "--store", store, "--dim", "16",
                     "--budget", "32"]) == 0
    out = capsys.readouterr().out
    assert "[pack] shard=" in out and "avg_fill=" in out

    # --indexed without indexes: clean error pointing at `index`
    assert cli.main(["hybrid-search", "broadcast joins", "--store", store,
                     "--dim", "16", "--indexed"]) == 1
    assert "run the `index` command" in capsys.readouterr().out

    # build both persisted indexes, then the indexed serving path works
    assert cli.main(["index", "--store", store, "--dim", "16",
                     "--clusters", "2", "--buckets", "8"]) == 0
    out = capsys.readouterr().out
    assert "built IVF" in out and "built lexical index" in out

    assert cli.main(["hybrid-search", "broadcast joins shuffles", "--store",
                     store, "--dim", "16", "--top-k", "3", "--indexed"]) == 0
    out = capsys.readouterr().out
    assert "rrf=" in out and "#1" in out
    baseline = out

    # maintain compacts both indexes in place; indexed serving unchanged
    assert cli.main(["maintain", "--store", store, "--dim", "16"]) == 0
    out = capsys.readouterr().out
    assert "[maintain] ivf:" in out and "[maintain] lex:" in out
    assert cli.main(["hybrid-search", "broadcast joins shuffles", "--store",
                     store, "--dim", "16", "--top-k", "3", "--indexed"]) == 0
    assert capsys.readouterr().out == baseline

    # REPL auto-loads the persisted indexes for :hybrid
    import io
    script = ":hybrid on\nbroadcast joins shuffles\n:quit\n"
    args = cli.build_parser().parse_args(["repl", "--store", store, "--dim", "16"])
    buf = io.StringIO()
    assert cli.cmd_repl(args, stdin=io.StringIO(script), out=buf) == 0
    out = buf.getvalue()
    assert "[ok] hybrid on (persisted indexes)" in out
    assert "rrf=" in out


def test_cli_stream_ingest_gates_and_resumes(spark, tmp_path, capsys):
    """stream-ingest drains the source dir through the persisted MinHash
    gate; a second run with a near-dup + a novel doc accepts only the
    novel one, and a third run with nothing new is a no-op."""
    import json as _json

    base = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through the quiet green field toward the distant river bank")
    novel = ("completely unrelated legal filing concerning maritime salvage "
             "rights and the apportionment of recovered cargo value")
    src = tmp_path / "stream_src"
    src.mkdir()
    store = str(tmp_path / "store")
    with open(src / "a.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base}) + "\n")

    argv = ["stream-ingest", "--store", store, "--source", str(src),
            "--threshold", "0.6", "--buckets", "8"]
    assert cli.main(argv) == 0
    assert "accepted 1, dropped 0" in capsys.readouterr().out

    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 2, "text": base.replace("river", "ocean")}) + "\n")
        fh.write(_json.dumps({"doc_id": 3, "text": novel}) + "\n")
    assert cli.main(argv) == 0
    assert "accepted 1, dropped 1" in capsys.readouterr().out

    # nothing new → checkpointed re-run is a no-op
    assert cli.main(argv) == 0
    assert "0 micro-batches" in capsys.readouterr().out

    accepted = spark.read.option("basePath", f"{store}/accepted").parquet(
        f"{store}/accepted")
    assert {r.doc_id for r in accepted.collect()} == {1, 3}

    # maintain finds the stream-ingest layout; the gate still screens
    # correctly post-compaction (a re-run of the near-dup stays dropped)
    assert cli.main(["maintain", "--store", store, "--dim", "16"]) == 0
    assert "[maintain] mhidx:" in capsys.readouterr().out
    with open(src / "c.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 4, "text": base.replace("quick", "rapid")}) + "\n")
    assert cli.main(argv) == 0
    assert "accepted 0, dropped 1" in capsys.readouterr().out

    # --semantic without the gate index: clean error pointing at the command
    sem_argv = argv + ["--semantic", "--semantic-threshold", "0.99"]
    assert cli.main(sem_argv) == 1
    assert "semantic-index" in capsys.readouterr().out

    # build the dense gate from the accepted corpus, then the dual-gated
    # stream accepts a novel doc and writes its embedding to the sink
    assert cli.main(["semantic-index", "--store", store, "--dim", "16",
                     "--clusters", "4"]) == 0
    assert "built" in capsys.readouterr().out
    with open(src / "d.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 5,
             "text": "orbital mechanics lecture notes covering hohmann "
                     "transfers and delta-v budgeting for lunar missions"})
            + "\n")
    assert cli.main(sem_argv) == 0
    assert "accepted 1, dropped 0" in capsys.readouterr().out
    accepted = (spark.read.option("basePath", f"{store}/accepted")
                .option("mergeSchema", "true").parquet(f"{store}/accepted"))
    assert {r.doc_id for r in accepted.collect()} == {1, 3, 5}
    assert "embedding" in accepted.columns  # dual-gated epoch carries it

    # maintain now also compacts the dense gate layout
    assert cli.main(["maintain", "--store", store, "--dim", "16"]) == 0
    assert "[maintain] semidx:" in capsys.readouterr().out

    # hierarchical gate: rebuild with an L1 layer, then stream with
    # --semantic-branches so every dense-gate assignment routes through
    # the L1->L2 join (no full centroid broadcast in the stream)
    assert cli.main(["semantic-index", "--store", store, "--dim", "16",
                     "--clusters", "4", "--l1-branches", "2"]) == 0
    assert "L1 branches" in capsys.readouterr().out
    with open(src / "e.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 6,
             "text": "sourdough fermentation kinetics at varying hydration "
                     "levels measured across repeated overnight proofs"})
            + "\n")
    assert cli.main(sem_argv + ["--semantic-branches", "2"]) == 0
    assert "accepted 1, dropped 0" in capsys.readouterr().out
    accepted = (spark.read.option("basePath", f"{store}/accepted")
                .option("mergeSchema", "true").parquet(f"{store}/accepted"))
    assert {r.doc_id for r in accepted.collect()} == {1, 3, 5, 6}

    # standardized gate: rebuild whitened; the profile persists with the
    # index, the dual-gated stream screens through it (a re-delivered
    # accepted doc is dropped at cosine 1.0 — invariant under
    # standardize-and-renormalize), and maintain preserves the profile
    from ocr_vector_db_spark.operators.index_maint import fs_exists

    assert cli.main(["semantic-index", "--store", store, "--dim", "16",
                     "--clusters", "4", "--standardize"]) == 0
    assert "standardized gate" in capsys.readouterr().out
    assert fs_exists(spark, f"{store}/semidx/standardize.json")
    with open(src / "f.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 7, "text": novel}) + "\n")  # re-send
        fh.write(_json.dumps(
            {"doc_id": 8,
             "text": "tidal estuary sediment transport modeled with "
                     "coupled shallow water equations and bedload flux"})
            + "\n")
    assert cli.main(sem_argv) == 0
    assert "accepted 1, dropped 1" in capsys.readouterr().out
    assert cli.main(["maintain", "--store", store, "--dim", "16"]) == 0
    assert "[maintain] semidx:" in capsys.readouterr().out
    assert fs_exists(spark, f"{store}/semidx/standardize.json")


def test_cli_repl_session(spark, tmp_path, capsys):
    """REPL parity with api/cli/repl.py: settings commands, a search, RAG
    toggle mid-session, :sources after a generation, :clear-history, :quit."""
    import io

    doc = tmp_path / "repl.md"
    doc.write_text(
        "Generators produce values lazily using yield in Python.\n\n"
        "```python\ndef count(n):\n    yield n\n```\n"
    )
    store = str(tmp_path / "store")
    assert cli.main(["ingest", str(doc), "--store", store, "--dim", "16"]) == 0
    capsys.readouterr()

    script = "\n".join([
        ":help",
        ":show",
        ":view code",
        ":lang python",
        ":topk 3",
        ":view none",
        ":lang none",
        "lazy generators yield",        # search mode query
        ":json on",
        "lazy generators yield",        # same query, JSON output
        ":json off",
        ":hybrid on",
        "lazy generators yield",        # hybrid (BM25+dense RRF) search
        ":hybrid off",
        ":rag on",
        "lazy generators yield",        # RAG generation (EchoLLM)
        ":sources",
        ":clear-history",
        ":topk abc",                    # error path
        ":quit",
    ]) + "\n"

    args = cli.build_parser().parse_args(
        ["repl", "--store", store, "--dim", "16"]
    )
    buf = io.StringIO()
    assert cli.cmd_repl(args, stdin=io.StringIO(script), out=buf) == 0
    out = buf.getvalue()

    assert "Search REPL" in out
    assert ":view <type|none>" in out            # :help rendered
    assert "rag_mode:    off" in out             # :show
    assert "[ok] view set to code" in out
    assert "[ok] lang set to python" not in out  # echo uses 'language'
    assert "[ok] language set to python" in out
    assert "[ok] top_k set to 3" in out
    assert "Similarity:" in out                  # text-format search results
    assert '"similarity"' in out                 # JSON-format search results
    assert "[ok] hybrid on" in out
    assert "rrf=" in out                         # hybrid fused results
    assert "[ok] RAG mode on" in out
    assert "Sources:" in out                     # RAG response footer
    assert "Sources from last response:" in out  # :sources
    assert "Keywords:" in out                    # optimizer echo
    assert "[ok] conversation history cleared" in out
    assert "[error] usage: :topk <int>" in out


def test_cli_lm_index_build_score_pmi(spark, tmp_path, capsys):
    """lm-index builds over the accepted stream corpus, scores a JSONL
    batch against the persisted counts, and serves PMI collocations —
    the CLI face of NgramLMIndex."""
    import json as _json

    src = tmp_path / "lm_src"
    src.mkdir()
    store = str(tmp_path / "store")
    texts = [
        (1, "machine learning models learn from large data sets and "
            "machine learning pipelines feed the machine learning models"),
        (2, "maritime salvage rights concern the apportionment of "
            "recovered cargo value across competing maritime claims"),
    ]
    with open(src / "a.json", "w") as fh:
        for i, t in texts:
            fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    assert cli.main(["stream-ingest", "--store", store, "--source",
                     str(src), "--threshold", "0.6", "--buckets", "8"]) == 0
    capsys.readouterr()

    # no index yet → loud error
    assert cli.main(["lm-index", "--store", store, "--pmi"]) == 1
    assert "lm-index --build" in capsys.readouterr().out

    assert cli.main(["lm-index", "--store", store, "--build",
                     "--buckets", "8"]) == 0
    out = capsys.readouterr().out
    assert "built over 2 docs" in out and "vocab" in out

    # score a new batch: boilerplate-repeat vs fresh prose both get rows
    batch = tmp_path / "batch.jsonl"
    with open(batch, "w") as fh:
        fh.write(_json.dumps({"doc_id": 100,
                              "text": "machine learning models learn"}) + "\n")
        fh.write(_json.dumps({"doc_id": 101,
                              "text": "entirely novel zebra quartz"}) + "\n")
    assert cli.main(["lm-index", "--store", store, "--score",
                     str(batch)]) == 0
    out = capsys.readouterr().out
    assert "scored 2 docs" in out
    lines = [l for l in out.splitlines() if "\t" in l]
    # the in-corpus phrase scores LOWER cross-entropy than unseen prose
    assert lines[0].startswith("100\t")

    # pmi: 'machine learning' dominates by construction
    assert cli.main(["lm-index", "--store", store, "--pmi",
                     "--min-count", "2", "--top-k", "5"]) == 0
    out = capsys.readouterr().out
    assert "machine learning" in out


def test_cli_stream_ingest_lm_band(spark, tmp_path, capsys):
    """stream-ingest --lm-band gates docs through the persisted LM before
    the dedup index; the summary separates quality drops from dup drops."""
    import json as _json

    src = tmp_path / "seed_src"
    src.mkdir()
    store = str(tmp_path / "store")
    prose = ("the model reads the corpus and the model scores the corpus "
             "with calibrated statistics")
    with open(src / "a.json", "w") as fh:
        for i in range(5):
            fh.write(_json.dumps(
                {"doc_id": i, "text": prose + f" batch {i}"}) + "\n")
    assert cli.main(["stream-ingest", "--store", store, "--source",
                     str(src), "--threshold", "0.6", "--buckets", "8"]) == 0
    capsys.readouterr()

    # band needs the LM index first (same source dir: the store's
    # checkpoint pins it; the new file arrives as the next epoch)
    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 100,
                              "text": prose + " batch fresh"}) + "\n")
        fh.write(_json.dumps({"doc_id": 101,
                              "text": "zq xv qj wk pf gh bn mm tt rr"}) + "\n")
    argv = ["stream-ingest", "--store", store, "--source", str(src),
            "--threshold", "0.6", "--buckets", "8"]
    assert cli.main(argv + ["--lm-band", "0.0", "6.0"]) == 1
    assert "lm-index --build" in capsys.readouterr().out
    assert cli.main(["lm-index", "--store", store, "--build",
                     "--buckets", "8"]) == 0
    capsys.readouterr()

    # calibrate the band between the two docs' actual scores (the small
    # test vocab makes absolute guesses meaningless)
    import os as _os

    from ocr_vector_db_spark.operators.ngram_lm_index import NgramLMIndex

    lm = NgramLMIndex.load(spark, _os.path.join(store, "lmidx"))
    batch = spark.createDataFrame(
        [(100, prose + " batch fresh"),
         (101, "zq xv qj wk pf gh bn mm tt rr")],
        "doc_id bigint, text string",
    )
    s = {r.doc_id: r.avg_neg_logprob for r in lm.score_batch(batch).collect()}
    assert s[100] < s[101]
    hi = (s[100] + s[101]) / 2

    assert cli.main(argv + ["--lm-band", "0.0", str(hi)]) == 0
    out = capsys.readouterr().out
    assert "dropped 1 low-quality" in out


def test_cli_stream_ingest_vocab_sketch(spark, tmp_path, capsys):
    """stream-ingest --vocab-sketch creates the store's HLL on first use,
    folds each accepted batch, and reports a running estimate; the
    persisted registers equal a scratch build over the accepted rows."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.sketches import (
        HLLSketch, hll_registers,
    )
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink, _stream_tokens,
    )

    src = tmp_path / "vs_src"
    src.mkdir()
    store = str(tmp_path / "store")
    with open(src / "a.json", "w") as fh:
        for i in range(4):
            fh.write(_json.dumps(
                {"doc_id": i,
                 "text": f"wholly distinct narrative {i} covering theme "
                         f"{i * 13} in original words {i * 7}"}) + "\n")
    argv = ["stream-ingest", "--store", store, "--source", str(src),
            "--threshold", "0.6", "--buckets", "8", "--vocab-sketch"]
    assert cli.main(argv) == 0
    out = capsys.readouterr().out
    assert "running vocabulary estimate" in out

    sk = HLLSketch.load(spark, _os.path.join(store, "vocab_hll"))
    accepted = ParquetAcceptedSink(_os.path.join(store, "accepted")).read(spark)
    want = sorted(
        (r.bucket, r.r)
        for r in hll_registers(
            _stream_tokens(accepted, "text"), F.col("__tok"), sk.p
        ).collect()
    )
    assert sorted((r.bucket, r.r) for r in sk.registers().collect()) == want

    # second run with one new file reuses (and grows) the same sketch
    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 50,
             "text": "entirely new vocabulary arrives here tonight"}) + "\n")
    assert cli.main(argv) == 0
    accepted = ParquetAcceptedSink(_os.path.join(store, "accepted")).read(spark)
    want = sorted(
        (r.bucket, r.r)
        for r in hll_registers(
            _stream_tokens(accepted, "text"), F.col("__tok"), sk.p
        ).collect()
    )
    sk = HLLSketch.load(spark, _os.path.join(store, "vocab_hll"))
    assert sorted((r.bucket, r.r) for r in sk.registers().collect()) == want


def test_cli_stream_ingest_tokenfreq_sketch(spark, tmp_path, capsys):
    """stream-ingest --tokenfreq-sketch creates the store's count-min
    sketch on first use, folds each accepted batch exactly-once (epoch
    marker), and a second run grows the same sketch; the persisted cells
    equal a scratch build over all accepted rows bit-for-bit."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.sketches import CMSketch, cm_cells
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink, _stream_tokens,
    )

    src = tmp_path / "tf_src"
    src.mkdir()
    store = str(tmp_path / "store")
    with open(src / "a.json", "w") as fh:
        for i in range(4):
            fh.write(_json.dumps(
                {"doc_id": i,
                 "text": f"wholly distinct narrative {i} covering theme "
                         f"{i * 13} in original words {i * 7}"}) + "\n")
    argv = ["stream-ingest", "--store", store, "--source", str(src),
            "--threshold", "0.6", "--buckets", "8", "--tokenfreq-sketch"]
    assert cli.main(argv) == 0
    assert "running token-frequency sketch" in capsys.readouterr().out

    def scratch(sk, accepted):
        return sorted(
            (r.row, r.col, r.cnt)
            for r in cm_cells(
                _stream_tokens(accepted, "text"), F.col("__tok"),
                sk.w, sk.d,
            ).collect()
        )

    sk = CMSketch.load(spark, _os.path.join(store, "tokenfreq_cm"))
    accepted = ParquetAcceptedSink(_os.path.join(store, "accepted")).read(spark)
    assert sorted((r.row, r.col, r.cnt)
                  for r in sk.cells().collect()) == scratch(sk, accepted)

    # second run with one new file reuses (and grows) the same sketch
    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 50,
             "text": "entirely new vocabulary arrives here tonight"}) + "\n")
    assert cli.main(argv) == 0
    sk = CMSketch.load(spark, _os.path.join(store, "tokenfreq_cm"))
    accepted = ParquetAcceptedSink(_os.path.join(store, "accepted")).read(spark)
    assert sorted((r.row, r.col, r.cnt)
                  for r in sk.cells().collect()) == scratch(sk, accepted)


def test_cli_stream_ingest_drift_baseline(spark, tmp_path, capsys):
    """stream-ingest --drift-baseline seeds the store's PSI baseline from
    the accepted corpus on first use, then screens later runs' arrivals
    against it (per-epoch PSI lines) and folds accepted docs in."""
    import json as _json

    from ocr_vector_db_spark.operators.drift import DriftBaseline

    src = tmp_path / "db_src"
    src.mkdir()
    store = str(tmp_path / "store")
    with open(src / "a.json", "w") as fh:
        for i in range(4):
            fh.write(_json.dumps(
                {"doc_id": i,
                 "text": f"wholly distinct narrative {i} covering theme "
                         f"{i * 13} in original words {i * 7}"}) + "\n")
    # first pass (no flag): builds the accepted corpus
    assert cli.main(["stream-ingest", "--store", store, "--source",
                     str(src), "--threshold", "0.6", "--buckets", "8"]) == 0
    capsys.readouterr()
    # second pass with the flag but no new docs: seeds the baseline
    assert cli.main(["stream-ingest", "--store", store, "--source",
                     str(src), "--threshold", "0.6", "--buckets", "8",
                     "--drift-baseline"]) == 0
    out = capsys.readouterr().out
    assert "seeded drift baseline" in out
    n0 = DriftBaseline.load(spark, store + "/drift_bl")._sub("meta").head().n
    assert n0 == 4
    # third pass: new docs screen against the baseline and fold in
    with open(src / "b.json", "w") as fh:
        for i in range(10, 13):
            fh.write(_json.dumps(
                {"doc_id": i,
                 "text": f"entirely different subject {i} with fresh "
                         f"vocabulary {i * 31} and unrelated topics"}) + "\n")
    assert cli.main(["stream-ingest", "--store", store, "--source",
                     str(src), "--threshold", "0.6", "--buckets", "8",
                     "--drift-baseline"]) == 0
    out = capsys.readouterr().out
    assert "arrival PSI vs baseline" in out
    n1 = DriftBaseline.load(spark, store + "/drift_bl")._sub("meta").head().n
    assert n1 == 4 + 3


def test_cli_maintain_covers_round9_indexes(spark, tmp_path, capsys):
    """maintain compacts the LM, SimHash and positional indexes too."""
    from ocr_vector_db_spark.operators.ngram_lm_index import NgramLMIndex
    from ocr_vector_db_spark.operators.phrase_index import PositionalIndex
    from ocr_vector_db_spark.operators.simhash_index import SimHashIndex

    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"some repeated prose about topic {i} and filler words "
             f"{'unique' + str(i * 7)}") for i in range(1, 6)],
        "doc_id bigint, text string",
    )
    NgramLMIndex.build(spark, docs, store + "/lmidx", n_buckets=4)
    SimHashIndex.build(spark, docs, store + "/simhash", n_buckets=4)
    PositionalIndex.build(spark, docs, store + "/posidx", n_buckets=4)
    assert cli.main(["maintain", "--store", store, "--dim", "16"]) == 0
    out = capsys.readouterr().out
    assert "[maintain] lmidx:" in out
    assert "[maintain] simhash:" in out
    assert "[maintain] posidx:" in out


def test_cli_drift_report(spark, tmp_path, capsys):
    """drift prints PSI/JSD/KS for batch-vs-corpus and the epoch
    self-audit."""
    import json as _json

    src = tmp_path / "dr_src"
    src.mkdir()
    store = str(tmp_path / "store")
    with open(src / "a.json", "w") as fh:
        for i in range(6):
            fh.write(_json.dumps(
                {"doc_id": i,
                 "text": f"wholly distinct narrative {i} covering theme "
                         f"{i * 13} in original words {i * 7}"}) + "\n")
    assert cli.main(["stream-ingest", "--store", store, "--source",
                     str(src), "--threshold", "0.6", "--buckets", "8"]) == 0
    capsys.readouterr()
    # self-audit (even vs odd epochs)
    assert cli.main(["drift", "--store", store]) == 0
    out = capsys.readouterr().out
    assert "PSI=" in out and "JSD=" in out and "KS=" in out
    assert "even vs odd" in out
    # batch comparison: much longer docs → PSI/KS must flag the shift
    batch = tmp_path / "batch.jsonl"
    with open(batch, "w") as fh:
        for i in (50, 51):
            fh.write(_json.dumps(
                {"doc_id": i, "text": "very long document " * 60}) + "\n")
    assert cli.main(["drift", "--store", store,
                     "--batch", str(batch)]) == 0
    out = capsys.readouterr().out
    assert "KS=1.000000" in out  # disjoint length supports


def test_cli_stream_ingest_running_sample(spark, tmp_path, capsys):
    """stream-ingest --sample maintains the persisted A-ES sample with
    doc length as the weight; it equals weighted_sample over the
    accepted corpus exactly."""
    import json as _json

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.sampling import (
        RunningSample, weighted_sample,
    )
    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    src = tmp_path / "rs_src"
    src.mkdir()
    store = str(tmp_path / "store")
    with open(src / "a.json", "w") as fh:
        for i in range(6):
            fh.write(_json.dumps(
                {"doc_id": i,
                 "text": f"wholly distinct narrative {i} covering theme "
                         f"{i * 13} in original words " + "pad " * i}) + "\n")
    assert cli.main(["stream-ingest", "--store", store, "--source",
                     str(src), "--threshold", "0.6", "--buckets", "8",
                     "--sample", "3"]) == 0
    out = capsys.readouterr().out
    assert "running weighted sample: 3 docs" in out
    rs = RunningSample(spark, store + "/sample", k=3, weight_col="__len")
    got = {(r.doc_id, r.weight) for r in rs.current().collect()}
    acc = ParquetAcceptedSink(store + "/accepted").read(spark)
    want = {
        (r.doc_id, r.weight)
        for r in weighted_sample(
            acc.withColumn("__len", F.length("text")), 3, "__len"
        ).collect()
    }
    assert got == want


def test_cli_decontam_bloom_screen(spark, tmp_path, capsys):
    """decontam --build folds the benchmark JSONL into the store's bloom;
    --add ORs more docs in (equal to a scratch build over the union);
    --screen flags the contaminated doc, passes the clean one (no false
    negatives for the verbatim-overlap doc), and prints fill stats."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.dedup import _doc_shingles
    from ocr_vector_db_spark.operators.sketches import BloomSketch, bloom_words

    store = str(tmp_path / "store")
    bench1 = tmp_path / "bench1.json"
    bench2 = tmp_path / "bench2.json"
    batch = tmp_path / "batch.json"
    with open(bench1, "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 0,
             "text": "the quick brown fox jumps over the lazy dog"}) + "\n")
    with open(bench2, "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 1,
             "text": "pack my box with five dozen liquor jugs"}) + "\n")
    with open(batch, "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 10,
             "text": "the quick brown fox jumps over the lazy dog"}) + "\n")
        fh.write(_json.dumps(
            {"doc_id": 11,
             "text": "completely unrelated prose about spark shuffles and "
                     "parquet row groups never seen in any benchmark"}) + "\n")

    assert cli.main(["decontam", "--store", store,
                     "--build", str(bench1)]) == 0
    assert cli.main(["decontam", "--store", store,
                     "--add", str(bench2)]) == 0
    capsys.readouterr()

    assert cli.main(["decontam", "--store", store,
                     "--screen", str(batch)]) == 0
    out = capsys.readouterr().out
    lines = {l.split("\t")[0]: l for l in out.splitlines() if "\t" in l}
    # only flagged docs print (bounded output); the full per-doc table
    # lands distributed under the store. The store carries the exact
    # gram table (two-phase build), so the verbatim-leak verdict is the
    # CONFIRMED one, not bloom-maybe
    assert lines["10"].endswith("LEAK") and "1.0" in lines["10"]
    assert "11" not in lines
    assert "1/2 bloom-flagged" in out and "1 exact-confirmed" in out
    per = spark.read.parquet(_os.path.join(store, "decontam_screen"))
    rows = {r.doc: r for r in per.collect()}
    assert rows[10].flagged and rows[10].confirmed
    assert not rows[11].flagged
    assert rows[11].contamination < 0.3

    # persisted words ≡ scratch build over the union of both bench files
    union = spark.read.json([str(bench1), str(bench2)])
    want = sorted(
        (r.word_idx, r.bits)
        for r in bloom_words(
            _doc_shingles(union, "text", "doc_id", 2)
            .select("shingle").distinct(),
            F.col("shingle"), 60 * 4096, 3,
        ).collect()
    )
    sk = BloomSketch.load(spark, _os.path.join(store, "bloom"))
    got = sorted((r.word_idx, r.bits) for r in sk.words().collect())
    assert got == want

    # stats line
    assert cli.main(["decontam", "--store", store]) == 0
    out = capsys.readouterr().out
    assert "set_bits=" in out and "fp≈" in out

    # missing filter is a loud error
    assert cli.main(["decontam", "--store", str(tmp_path / "empty"),
                     "--screen", str(batch)]) == 1


def test_cli_stream_ingest_decontam_gate(spark, tmp_path, capsys):
    """stream-ingest --decontam drops docs whose 2-gram overlap with the
    store's benchmark bloom reaches the threshold BEFORE the dedup gates
    (a contaminated doc never reaches the sink or the MinHash index),
    passes clean docs, and reports the drop count."""
    import json as _json
    import os as _os

    store = str(tmp_path / "store")
    bench = tmp_path / "bench.json"
    src = tmp_path / "dc_src"
    src.mkdir()
    with open(bench, "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 0,
             "text": "the held out benchmark question asks about spark "
                     "adaptive query execution internals"}) + "\n")
    with open(src / "a.json", "w") as fh:
        # verbatim benchmark leak -> contamination 1.0
        fh.write(_json.dumps(
            {"doc_id": 10,
             "text": "the held out benchmark question asks about spark "
                     "adaptive query execution internals"}) + "\n")
        # clean doc, fully disjoint vocabulary
        fh.write(_json.dumps(
            {"doc_id": 11,
             "text": "completely unrelated training prose covering parquet "
                     "row groups and shuffle partitions tonight"}) + "\n")

    assert cli.main(["decontam", "--store", store,
                     "--build", str(bench)]) == 0
    capsys.readouterr()
    assert cli.main(["stream-ingest", "--store", store,
                     "--source", str(src), "--threshold", "0.6",
                     "--buckets", "8", "--decontam", "0.5"]) == 0
    out = capsys.readouterr().out
    assert "dropped 1 contaminated" in out and "accepted 1" in out

    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    accepted = ParquetAcceptedSink(_os.path.join(store, "accepted")).read(spark)
    ids = sorted(r.doc_id for r in accepted.select("doc_id").collect())
    assert ids == [11]

    # the contaminated doc must not have folded into the dedup index:
    # re-sending it WITHOUT the gate must be accepted as novel (it was
    # never indexed), not dropped as a near-dup of itself
    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps(
            {"doc_id": 12,
             "text": "the held out benchmark question asks about spark "
                     "adaptive query execution internals"}) + "\n")
    assert cli.main(["stream-ingest", "--store", store,
                     "--source", str(src), "--threshold", "0.6",
                     "--buckets", "8"]) == 0
    accepted = ParquetAcceptedSink(_os.path.join(store, "accepted")).read(spark)
    ids = sorted(r.doc_id for r in accepted.select("doc_id").collect())
    assert ids == [11, 12]

    # missing filter is a loud error
    assert cli.main(["stream-ingest", "--store", str(tmp_path / "s2"),
                     "--source", str(src), "--decontam"]) == 1


def test_cli_stream_ingest_decontam_two_phase(spark, tmp_path, capsys):
    """Bloom false positives must never drop clean docs: with the exact
    gram table persisted by `decontam --build`, a crafted FP doc (its one
    shingle probes to a set bit but is NOT a benchmark gram) survives the
    gate while a verbatim leak still drops, and the summary separates
    bloom-flagged from exact-confirmed."""
    import hashlib
    import json as _json
    import os as _os

    m = 60  # one packed word: dense enough to craft a collision
    bench_text = "alpha bravo charlie delta echo"
    toks = bench_text.split()
    bench_grams = {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    def probe(key, j=0):
        # replicate sketches.bloom_probe: md5(j '#' key) hex[:13] % m
        h = hashlib.md5(f"{j}#{key}".encode()).hexdigest()
        return int(h[:13], 16) % m

    set_bits = {probe(g) for g in bench_grams}
    fp_text = next(
        f"zz{i} qq{i}" for i in range(10_000)
        if probe(f"zz{i} qq{i}") in set_bits
        and f"zz{i} qq{i}" not in bench_grams
    )
    clean_text = next(
        f"rr{i} ss{i}" for i in range(10_000)
        if probe(f"rr{i} ss{i}") not in set_bits
    )

    store = str(tmp_path / "store")
    bench = tmp_path / "bench.json"
    src = tmp_path / "tp_src"
    src.mkdir()
    bench.write_text(_json.dumps({"doc_id": 0, "text": bench_text}) + "\n")
    (src / "a.json").write_text("\n".join([
        _json.dumps({"doc_id": 10, "text": bench_text}),   # true leak
        _json.dumps({"doc_id": 11, "text": fp_text}),      # bloom FP
        _json.dumps({"doc_id": 12, "text": clean_text}),   # certain clean
    ]) + "\n")

    assert cli.main(["decontam", "--store", store, "--build", str(bench),
                     "--m-bits", "60", "--k-hashes", "1"]) == 0
    capsys.readouterr()
    assert cli.main(["stream-ingest", "--store", store,
                     "--source", str(src), "--threshold", "0.6",
                     "--buckets", "8", "--decontam", "0.5"]) == 0
    out = capsys.readouterr().out
    # leak + FP both bloom-flag at ratio 1.0; only the leak confirms
    assert "dropped 1 contaminated (2 bloom-flagged, exact-confirmed 1)" \
        in out

    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    accepted = ParquetAcceptedSink(
        _os.path.join(store, "accepted")).read(spark)
    ids = sorted(r.doc_id for r in accepted.select("doc_id").collect())
    assert ids == [11, 12]

    # pre-two-phase store (no persisted gram table): the gate stays
    # single-phase — the same Bloom FP is over-dropped (never
    # under-dropped) and the summary carries no flagged/confirmed split
    import shutil

    store2 = str(tmp_path / "store_legacy")
    assert cli.main(["decontam", "--store", store2, "--build", str(bench),
                     "--m-bits", "60", "--k-hashes", "1"]) == 0
    shutil.rmtree(_os.path.join(store2, "bench_grams"))
    capsys.readouterr()
    assert cli.main(["stream-ingest", "--store", store2,
                     "--source", str(src), "--threshold", "0.6",
                     "--buckets", "8", "--decontam", "0.5"]) == 0
    out = capsys.readouterr().out
    assert "dropped 2 contaminated" in out and "bloom-flagged" not in out
    accepted = ParquetAcceptedSink(
        _os.path.join(store2, "accepted")).read(spark)
    assert [r.doc_id for r in accepted.select("doc_id").collect()] == [12]

    # the legacy --screen likewise stays bloom-only: FLAG verdicts, no
    # LEAK/bloom-fp split
    batch = tmp_path / "tp_batch.json"
    batch.write_text("\n".join([
        _json.dumps({"doc_id": 20, "text": bench_text}),
        _json.dumps({"doc_id": 21, "text": fp_text}),
    ]) + "\n")
    assert cli.main(["decontam", "--store", store2,
                     "--screen", str(batch)]) == 0
    out = capsys.readouterr().out
    lines = {l.split("\t")[0]: l for l in out.splitlines() if "\t" in l}
    assert lines["20"].endswith("FLAG") and lines["21"].endswith("FLAG")
    assert "2/2 doc(s)" in out and "exact-confirmed" not in out


def test_cli_stream_ingest_images(spark, tmp_path, capsys):
    """stream-ingest-images drains parquet asset frames, seeds the store's
    PhashIndex on first use, and a second run drops a re-scan of an
    accepted page while passing a novel one; a radius mismatch against
    the stored banded layout is a loud error."""
    import hashlib
    import shutil

    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    def mat(seed):
        return [
            [hashlib.md5(f"{seed}:{cx}:{cy}".encode()).digest()[0]
             for cx in range(9)]
            for cy in range(8)
        ]

    def render(m, w, h):
        return bytes(
            m[y * 8 // h][x * 9 // w] for y in range(h) for x in range(w)
        )

    schema = "asset_id string, data binary, width int, height int"

    def feed(src, name, rows):
        stage = tmp_path / f"img_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(stage))
        src.mkdir(exist_ok=True)
        shutil.copy(next(stage.glob("part-*.parquet")),
                    src / f"{name}.parquet")

    store = str(tmp_path / "img_store")
    src = tmp_path / "img_frames"
    m_a, m_b = mat("cli-a"), mat("cli-b")
    feed(src, "b1", [("page_a", render(m_a, 72, 40), 72, 40)])
    assert cli.main(["stream-ingest-images", "--store", store,
                     "--source", str(src), "--buckets", "8"]) == 0
    out = capsys.readouterr().out
    assert "accepted 1, dropped 0" in out

    feed(src, "b2", [
        ("page_a_rescan", render(m_a, 144, 80), 144, 80),
        ("page_b", render(m_b, 72, 40), 72, 40),
    ])
    assert cli.main(["stream-ingest-images", "--store", store,
                     "--source", str(src), "--buckets", "8"]) == 0
    out = capsys.readouterr().out
    assert "accepted 1, dropped 1" in out

    accepted = ParquetAcceptedSink(
        store + "/accepted_assets").read(spark)
    assert sorted(r.asset_id for r in accepted.collect()) == \
        ["page_a", "page_b"]

    assert cli.main(["stream-ingest-images", "--store", store,
                     "--source", str(src), "--radius", "2"]) == 1
    assert "r=4" in capsys.readouterr().out

    # a sub-grid icon, then its byte-identical re-send in a later run:
    # the persisted exact store screens it
    icon = bytes(range(16))
    for name, want in (("b3", "(0 dropped byte-identical)"),
                       ("b4", "(1 dropped byte-identical)")):
        feed(src, name, [(f"icon_{name}", icon, 4, 4)])
        assert cli.main(["stream-ingest-images", "--store", store,
                         "--source", str(src), "--buckets", "8"]) == 0
        assert want in capsys.readouterr().out


def test_cli_stream_ingest_audio(spark, tmp_path, capsys):
    """stream-ingest-audio drains parquet PCM clips, seeds the store's
    AudioFpIndex on first use, and a second run drops a gain re-encode
    of an accepted take while passing a novel one; a radius mismatch
    against the stored banded layout is a loud error."""
    import hashlib
    import shutil

    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    def synth(seed, n, gain=1):
        amps, out = {}, bytearray()
        for i in range(n):
            seg = i // 130
            a = amps.get(seg)
            if a is None:
                a = (hashlib.md5(f"{seed}:{seg}".encode()).digest()[0]
                     % 48 * 64 + 400)
                amps[seg] = a
            v = a * ((i % 50) - 25) // 25 * gain
            out += v.to_bytes(2, "little", signed=True)
        return bytes(out)

    schema = "asset_id string, data binary"

    def feed(src, name, rows):
        stage = tmp_path / f"au_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(stage))
        src.mkdir(exist_ok=True)
        shutil.copy(next(stage.glob("part-*.parquet")),
                    src / f"{name}.parquet")

    store = str(tmp_path / "au_store")
    src = tmp_path / "au_clips"
    feed(src, "b1", [("take_a", synth("cli-ta", 9000))])
    assert cli.main(["stream-ingest-audio", "--store", store,
                     "--source", str(src), "--buckets", "8"]) == 0
    out = capsys.readouterr().out
    assert "accepted 1, dropped 0" in out

    feed(src, "b2", [
        ("take_a_loud", synth("cli-ta", 9000, gain=2)),
        ("take_b", synth("cli-tb", 9000)),
    ])
    assert cli.main(["stream-ingest-audio", "--store", store,
                     "--source", str(src), "--buckets", "8"]) == 0
    out = capsys.readouterr().out
    assert "accepted 1, dropped 1" in out

    accepted = ParquetAcceptedSink(
        store + "/accepted_audio").read(spark)
    assert sorted(r.asset_id for r in accepted.collect()) == \
        ["take_a", "take_b"]

    assert cli.main(["stream-ingest-audio", "--store", store,
                     "--source", str(src), "--radius", "2"]) == 1
    assert "r=6" in capsys.readouterr().out

    # a clip below the frame grid, then its byte-identical re-send in a
    # later run: the persisted exact store screens it
    short = synth("cli-short", 20)
    for name, want in (("b3", "(0 dropped byte-identical)"),
                       ("b4", "(1 dropped byte-identical)")):
        feed(src, name, [(f"short_{name}", short)])
        assert cli.main(["stream-ingest-audio", "--store", store,
                         "--source", str(src), "--buckets", "8"]) == 0
        assert want in capsys.readouterr().out


def test_cli_stream_ingest_video(spark, tmp_path, capsys):
    """stream-ingest-video drains parquet clips, seeds the store's
    VideoFpIndex on first use (persisting every/min-frac), and a second
    run drops a brightness re-encode of an accepted clip while passing
    a novel one; a radius mismatch is a loud error."""
    import hashlib
    import shutil

    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    def mat(seed):
        return [[hashlib.md5(f"{seed}:{cx}:{cy}".encode()).digest()[0]
                 % 200 + 10 for cx in range(9)] for cy in range(8)]

    def video(seed, w, h, nf, bright=0):
        out = bytearray()
        for f in range(nf):
            m = mat(f"{seed}:f{f}")
            for y in range(h):
                for x in range(w):
                    out.append(min(255, m[y * 8 // h][x * 9 // w] + bright))
        return bytes(out)

    schema = ("asset_id string, data binary, width int, height int, "
              "n_frames int")

    def feed(src, name, rows):
        stage = tmp_path / f"vc_stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(stage))
        src.mkdir(exist_ok=True)
        shutil.copy(next(stage.glob("part-*.parquet")),
                    src / f"{name}.parquet")

    store = str(tmp_path / "vc_store")
    src = tmp_path / "vc_clips"
    feed(src, "b1", [("clip_a", video("cli-va", 36, 24, 4), 36, 24, 4)])
    assert cli.main(["stream-ingest-video", "--store", store,
                     "--source", str(src), "--buckets", "8",
                     "--every", "2"]) == 0
    out = capsys.readouterr().out
    assert "accepted 1, dropped 0" in out

    feed(src, "b2", [
        ("clip_a_bright", video("cli-va", 36, 24, 4, bright=12),
         36, 24, 4),
        ("clip_b", video("cli-vb", 36, 24, 4), 36, 24, 4),
    ])
    assert cli.main(["stream-ingest-video", "--store", store,
                     "--source", str(src), "--buckets", "8",
                     "--every", "2"]) == 0
    out = capsys.readouterr().out
    assert "accepted 1, dropped 1" in out

    accepted = ParquetAcceptedSink(
        store + "/accepted_videos").read(spark)
    assert sorted(r.asset_id for r in accepted.collect()) == \
        ["clip_a", "clip_b"]

    assert cli.main(["stream-ingest-video", "--store", store,
                     "--source", str(src), "--radius", "2"]) == 1
    assert "r=4" in capsys.readouterr().out

    # a sub-grid clip, then its byte-identical re-send in a later run:
    # the persisted exact store screens it. Without --every the flag
    # (default 1) differs from the persisted 2: a warning, and the
    # persisted value is used
    tiny = bytes(range(16))
    for name, want in (("b3", "(0 dropped byte-identical)"),
                       ("b4", "(1 dropped byte-identical)")):
        feed(src, name, [(f"tiny_{name}", tiny, 4, 4, 1)])
        assert cli.main(["stream-ingest-video", "--store", store,
                         "--source", str(src), "--buckets", "8"]) == 0
        out = capsys.readouterr().out
        assert want in out
        assert ("[warn] store index was built at every=2; --every 1 is "
                "ignored (persisted value wins)") in out
