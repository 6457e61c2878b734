"""Command-line interface — the reference's api/cli surface on Spark.

    python -m ocr_vector_db_spark.cli ingest  FILES...  --store DIR
    python -m ocr_vector_db_spark.cli search  "query"   --store DIR
        [--view V] [--language L] [--top-k K] [--json] [--no-context]
    python -m ocr_vector_db_spark.cli rag     "query"   --store DIR
    python -m ocr_vector_db_spark.cli quality --store DIR --golden FILE.jsonl
    python -m ocr_vector_db_spark.cli metrics --store DIR
    python -m ocr_vector_db_spark.cli delete  DOC_PATHS... --store DIR
    python -m ocr_vector_db_spark.cli hybrid-search "query" --store DIR
        [--top-k K] [--fuse-k 60]     # BM25 + dense cosine, RRF-fused
    python -m ocr_vector_db_spark.cli pack --store DIR --budget 512
    python -m ocr_vector_db_spark.cli index / maintain / semantic-index
    python -m ocr_vector_db_spark.cli stream-ingest --store DIR --source S
        [--semantic] [--lm-band LO HI] [--vocab-sketch] [--sample K]
        [--tokenfreq-sketch] [--drift-baseline] [--decontam [T]]
    python -m ocr_vector_db_spark.cli lm-index --store DIR [--build|--score F|--pmi]
    python -m ocr_vector_db_spark.cli tokenizer --store DIR [--train N|--extend N|--count F]
    python -m ocr_vector_db_spark.cli drift --store DIR [--batch FILE]
    python -m ocr_vector_db_spark.cli decontam --store DIR
        [--build F|--add F|--screen F]  # bloom benchmark-leak screen
    python -m ocr_vector_db_spark.cli stream-ingest-images --store DIR
        --source S [--radius R]  # perceptual image-dedup-gated ingestion
    python -m ocr_vector_db_spark.cli stream-ingest-audio --store DIR
        --source S [--radius R]  # fingerprint audio-dedup-gated ingestion
    python -m ocr_vector_db_spark.cli stream-ingest-video --store DIR
        --source S [--radius R]  # frame-hash video-dedup-gated ingestion

Mirrors api/cli/{ingest,search,repl,quality}.py + api/formatters.py: same
text/JSON result formats (similarity to 4 dp, 500-char parent preview), same
golden-query pass/total report, re-ingest idempotency via cascade delete.
"""

from __future__ import annotations

import argparse
import json
import sys


def _formatters_text(rows, show_context: bool = True) -> str:
    if not rows:
        return "[No results found]"
    lines = [f"[Found {len(rows)} results]\n"]
    for i, r in enumerate(rows, 1):
        lines.append("=" * 80)
        lines.append(f"Result {i}/{len(rows)}")
        lines.append(f"Similarity: {r.similarity:.4f}")
        lines.append(f"View: {r.view}")
        if r.lang:
            lines.append(f"Language: {r.lang}")
        lines.append(f"Parent ID: {r.parent_id}")
        lines.append(f"Fragment ID: {r.fragment_id}")
        lines.append("-" * 80)
        lines.append("Content:")
        lines.append(r.content)
        parent = getattr(r, "parent_content", None)
        if show_context and parent:
            lines.append("-" * 80)
            lines.append("Parent Context:")
            lines.append(parent[:500] + "..." if len(parent) > 500 else parent)
        lines.append("")
    return "\n".join(lines)


def _formatters_json(rows, show_context: bool = True) -> str:
    out = []
    for r in rows:
        item = {
            "fragment_id": r.fragment_id,
            "parent_id": r.parent_id,
            "view": r.view,
            "language": r.lang,
            "content": r.content,
            "similarity": r.similarity,
        }
        if show_context:
            item["parent_content"] = getattr(r, "parent_content", None)
        out.append(item)
    return json.dumps(out, indent=2, ensure_ascii=False)


def _spark():
    from ocr_vector_db_spark.session import get_spark

    return get_spark("ocr_vector_db_spark_cli")


def cmd_ingest(args) -> int:
    from pyspark.sql import functions as F

    from ocr_vector_db_spark.functions import hashing
    from ocr_vector_db_spark.sources.ingest import ingest, read_files
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    if store.exists("documents"):
        # re-ingest idempotency: drop existing trees for these paths
        # first; a store holding none of them is only appended to
        ids = [hashing.document_id(p) for p in args.files]
        stored = (store.read("documents").select("id")
                  .filter(F.col("id").isin(ids)).collect())
        if stored:
            store.cascade_delete([r.id for r in stored])
    files = read_files(spark, args.files)
    out = ingest(spark, files, dim=args.dim)
    store.save_ingest(out)
    n = store.read("embeddings").count()
    print(f"[ingest] stored {files.count()} files into {args.store}, "
          f"which now holds {n} embeddings")
    return 0


def cmd_search(args) -> int:
    from ocr_vector_db_spark.plans.pipeline import RetrievalPipeline
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    pipe = RetrievalPipeline(
        store.read("embeddings"), store.read("parents"), dim=args.dim
    )
    rows = pipe.retrieve(
        args.query, view=args.view, language=args.language,
        top_k=args.top_k, expand_context=not args.no_context,
    ).collect()
    fmt = _formatters_json if args.json else _formatters_text
    print(fmt(rows, show_context=not args.no_context))
    return 0


def cmd_rag(args) -> int:
    from ocr_vector_db_spark.plans import rag
    from ocr_vector_db_spark.plans.pipeline import RetrievalPipeline
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    pipe = RetrievalPipeline(store.read("embeddings"), store.read("parents"), dim=args.dim)
    rows = pipe.retrieve(args.query, top_k=args.top_k).collect()
    resp = rag.generate(args.query, rows)
    print(resp.format_with_sources())
    return 0


def cmd_quality(args) -> int:
    from ocr_vector_db_spark.plans.quality import evaluate, load_golden_queries
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    golden = load_golden_queries(args.golden)
    report = evaluate(golden, store.read("embeddings"), store.read("parents"), dim=args.dim)
    print(f"[quality] passed {report.passed}/{report.total} "
          f"({report.pass_rate:.1%})")
    for f in report.failures:
        print(f"  FAIL {f}")
    return 0 if report.passed == report.total else 1


def cmd_metrics(args) -> int:
    from ocr_vector_db_spark.operators.metrics import distribution, quality_metrics
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    emb = store.read("embeddings")
    row = quality_metrics(emb).head()
    print("[metrics]", json.dumps(row.asDict(), ensure_ascii=False))
    for r in distribution(emb, "view", 10).collect():
        print(f"  view={r['view']}: {r['n']}")
    return 0


def cmd_delete(args) -> int:
    from ocr_vector_db_spark.functions import hashing
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    doomed = [hashing.document_id(p) for p in args.paths]
    counts = store.cascade_delete(doomed)
    print(f"[delete] surviving rows: {json.dumps(counts)}")
    return 0


def cmd_index(args) -> int:
    """Build BOTH persisted serving indexes from the store: the dense IVF
    cluster layout and the sparse bucketed-postings lexical index — the
    pair `hybrid-search --indexed` and the REPL serve from (the reference's
    HNSW + GIN, storage/schema.py:80-118)."""
    import os

    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    emb = store.read("embeddings").withColumnRenamed("fragment_id", "vec_id")
    idx = IVFIndex.build(spark, emb, os.path.join(args.store, "ivf"),
                         num_clusters=args.clusters)
    print(f"[index] built IVF with {len(idx.centroids)} clusters at {args.store}/ivf")
    lex = LexicalIndex.build(
        spark, emb, os.path.join(args.store, "lex"),
        n_buckets=args.buckets, id_col="vec_id", text_col="content",
    )
    print(f"[index] built lexical index with {lex.n_buckets} buckets at {args.store}/lex")
    return 0


def _load_serving_indexes(spark, store_dir: str):
    """(LexicalIndex, IVFIndex) when both persisted indexes exist under the
    store, else (None, None) — callers fall back to scan-path retrieval."""
    import os

    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.index_maint import fs_exists
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    if fs_exists(spark, os.path.join(store_dir, "lex")) and fs_exists(
        spark, os.path.join(store_dir, "ivf")
    ):
        try:
            return (
                LexicalIndex.load(spark, os.path.join(store_dir, "lex")),
                IVFIndex.load(spark, os.path.join(store_dir, "ivf")),
            )
        except Exception as exc:  # corrupt index ≠ missing index: say so
            print(f"[warn] persisted indexes exist but failed to load "
                  f"({exc}); falling back to scan path — rebuild with "
                  f"the `index` command")
    return None, None


def cmd_index_search(args) -> int:
    import os

    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators.ann_index import IVFIndex

    spark = _spark()
    idx = IVFIndex.load(spark, os.path.join(args.store, "ivf"))
    qv = embed_text(args.query, args.dim)
    rows = idx.search(qv, args.top_k, nprobe=args.nprobe, id_col="vec_id").collect()
    for r in rows:
        print(f"  {r.similarity:+.4f}  cluster={r.cluster_id}  {r.vec_id}  {r.content[:60]!r}")
    return 0




def cmd_maintain(args) -> int:
    """Compact every persisted index under the store and GC superseded
    generations — the operational twin of the reference's post-load
    `ensure_indexes()` (api/use_cases/ingest.py:203), run on a schedule
    instead of per-ingest. Readers stay live throughout: each compact
    publishes a new generation behind an atomic commit marker and keeps
    the previous one until GC, so a query started mid-maintain still
    resolves a complete layout."""
    import os

    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.index_maint import parquet_file_count
    from ocr_vector_db_spark.operators.ivfpq import IVFPQIndex
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.operators.ngram_lm_index import NgramLMIndex
    from ocr_vector_db_spark.operators.phrase_index import PositionalIndex
    from ocr_vector_db_spark.operators.simhash_index import SimHashIndex

    kinds = {
        "ivf": (IVFIndex, ["vectors"]),
        "lex": (LexicalIndex, ["postings", "stats"]),
        "minhash": (MinHashIndex, ["bands", "signatures"]),
        "mhidx": (MinHashIndex, ["bands", "signatures"]),  # stream-ingest's
        "semidx": (IVFIndex, ["vectors"]),  # the dense ingestion gate
        "ivfpq": (IVFPQIndex, ["codes"]),
        "lmidx": (NgramLMIndex, ["pairs", "unigrams"]),  # lm-index's
        "simhash": (SimHashIndex, ["bands", "signatures"]),
        "posidx": (PositionalIndex, ["postings"]),
    }
    from ocr_vector_db_spark.operators.index_maint import fs_exists

    spark = _spark()
    found = 0
    for name, (cls, layouts) in kinds.items():
        root = os.path.join(args.store, name)
        if not fs_exists(spark, root):
            continue
        found += 1

        def counts() -> dict:
            try:  # Hadoop-FS stat; purely informational, never fail maintain
                return {l: parquet_file_count(os.path.join(root, l), spark)
                        for l in layouts}
            except Exception:
                return {}

        before = counts()
        idx = cls.load(spark, root)
        rows = idx.compact()
        after = counts()
        detail = ", ".join(
            f"{l}: {before[l]}→{after[l]} files" for l in layouts
        ) if before and after else "file counts n/a on this filesystem"
        print(f"[maintain] {name}: {rows} rows compacted ({detail})")
    if not found:
        print(f"[maintain] no persisted indexes under {args.store} "
              f"(expected {'/'.join(kinds)} subdirs)")
    return 0


def cmd_hybrid_search(args) -> int:
    """Sparse (BM25 over fragment content) + dense (cosine) top-k, RRF-fused
    — the hybrid recipe the dense-only `search` command is one half of."""
    from pyspark.sql import functions as F

    from ocr_vector_db_spark.functions.vector import cosine_similarity_col, embed_text
    from ocr_vector_db_spark.operators.retrieval import (
        bm25_topk,
        bounded_window,
        rrf_fuse,
    )
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    emb = store.read("embeddings")
    qv = embed_text(args.query, args.dim)

    def show(fused, id_src):
        rows = (
            fused.join(emb.select(id_src.alias("id"), "content"), "id")
            .orderBy("fused_rank")
            .collect()
        )
        for r in rows:
            print(f"  #{r.fused_rank}  rrf={r.rrf:.6f}  systems={r.n_systems}  "
                  f"{r.id[:24]}  {r.content[:60]!r}")

    if getattr(args, "indexed", False):
        from ocr_vector_db_spark.operators.retrieval import hybrid_indexed

        lex_idx, ivf_idx = _load_serving_indexes(spark, args.store)
        if lex_idx is None:
            print("[error] no persisted indexes under the store — "
                  "run the `index` command first")
            return 1
        fused = hybrid_indexed(
            lex_idx, ivf_idx, args.query.lower().split(), qv,
            k_each=args.top_k * 2, fuse_k=args.fuse_k, id_col="vec_id",
        ).orderBy("fused_rank").limit(args.top_k)
        show(fused, F.col("fragment_id"))
        return 0

    sim = F.round(
        cosine_similarity_col(F.col("embedding"), F.lit(qv).cast("array<double>")), 6
    )
    # fuse on fragment_id — the SAME id space the indexed path uses (the
    # persisted indexes store fragment ids as vec_id), so toggling
    # --indexed changes the serving plan, never the ranking/tie-break ids
    dense = (
        emb.select(F.col("fragment_id").alias("id"), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(args.top_k * 2)
        .withColumn(
            "rank",
            F.row_number()
            .over(bounded_window(F.col("sim"), F.desc("sim"), F.asc("id")))
            .cast("bigint"),
        )
    )
    lex = bm25_topk(
        emb.select("fragment_id", "content"), args.query.split(),
        k=args.top_k * 2, id_col="fragment_id", text_col="content",
    )
    fused = (
        rrf_fuse({"dense": dense, "lex": lex}, k=args.fuse_k)
        .orderBy("fused_rank")
        .limit(args.top_k)
    )
    show(fused, F.col("fragment_id"))
    return 0


def cmd_semantic_index(args) -> int:
    """Build the dense ingestion-gate index (`{store}/semidx`) from the
    accepted stream corpus: embeds every accepted doc's text with the
    harness embedder and clusters into an IVF layout over (doc_id,
    embedding). `stream-ingest --semantic` then screens each incoming
    micro-batch against it (SemDeDup at ingest, q111's serving shape) and
    folds survivors in incrementally — rebuild periodically for centroid
    drift, like any IVF tier."""
    import os

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.functions.vector import embed_udf
    from ocr_vector_db_spark.operators.ann_index import IVFIndex

    from ocr_vector_db_spark.operators.index_maint import fs_exists

    spark = _spark()
    acc_path = os.path.join(args.store, "accepted")
    if not fs_exists(spark, acc_path):
        print("[error] no accepted corpus under the store — "
              "run `stream-ingest` first")
        return 1
    docs = (spark.read.option("basePath", acc_path)
            .option("mergeSchema", "true").parquet(acc_path))
    vecs = docs.select(
        "doc_id", embed_udf(args.dim)(F.col("text")).alias("embedding")
    )
    n = vecs.count()
    if n < 2:
        print("[error] the dense gate needs >= 2 accepted docs to cluster "
              f"(found {n}) — ingest more first")
        return 1
    k = max(2, min(args.clusters, n))
    l1 = getattr(args, "l1_branches", None)
    idx = IVFIndex.build(
        spark, vecs, os.path.join(args.store, "semidx"), num_clusters=k,
        l1_branches=(min(l1, k) if l1 else None),
        standardize=getattr(args, "standardize", False),
    )
    hier = f" ({len(idx.l1)} L1 branches)" if idx.l1 else ""
    std = " standardized" if idx.std_stats else ""
    print(f"[semantic-index] built {len(idx.centroids)}-cluster{std} gate "
          f"index{hier} over {n} accepted docs at {args.store}/semidx")
    return 0


def cmd_lm_index(args) -> int:
    """Build or serve the corpus bigram LM (`{store}/lmidx`,
    `operators/ngram_lm_index.py`): `--build` fits it over the accepted
    stream corpus (incremental `add` folds arrive through the library
    API); `--score FILE` cross-entropy-scores a JSONL batch of
    {doc_id, text} rows against the persisted counts (CCNet-style LM
    quality filtering — low = boilerplate, high = noise, keep the mid
    band); `--pmi` prints the corpus's top collocations from the same
    counts. Serving reads only the batch's own buckets."""
    import os

    from ocr_vector_db_spark.operators.index_maint import fs_exists
    from ocr_vector_db_spark.operators.ngram_lm_index import NgramLMIndex

    spark = _spark()
    path = os.path.join(args.store, "lmidx")
    if args.build:
        acc_path = os.path.join(args.store, "accepted")
        if not fs_exists(spark, acc_path):
            print("[error] no accepted corpus under the store — "
                  "run `stream-ingest` first")
            return 1
        docs = (spark.read.option("basePath", acc_path)
                .option("mergeSchema", "true").parquet(acc_path))
        idx = NgramLMIndex.build(spark, docs, path,
                                 n_buckets=args.buckets)
        st = idx.stats().head()
        print(f"[lm-index] built over {st['n_docs']} docs: vocab "
              f"{st['vocab']}, {st['n_bigrams']} bigrams at {path}")
        return 0
    if not fs_exists(spark, path):
        print("[error] no LM index under the store — run "
              "`lm-index --build` first")
        return 1
    idx = NgramLMIndex.load(spark, path)
    if args.score:
        batch = spark.read.json(args.score)
        rows = (idx.score_batch(batch)
                .orderBy("avg_neg_logprob").collect())
        for r in rows:
            print(f"{r['doc_id']}\t{r['n_bigrams']}\t{r['avg_neg_logprob']}")
        print(f"[lm-index] scored {len(rows)} docs")
        return 0
    for r in idx.pmi_topk(min_count=args.min_count, top_k=args.top_k).collect():
        print(f"{r.tok_a} {r.tok_b}\t{r.pair_count}\t{r.pmi}")
    return 0


def cmd_drift(args) -> int:
    """Distribution-drift report (`operators/drift.py`): compares the
    store's accepted corpus against `--batch FILE` (JSONL of {doc_id,
    text} — the 'should I ingest this drop?' check) or, without a batch,
    between the corpus's even/odd doc_id epochs (the self-audit). Prints
    PSI + JSD (binned, Laplace-smoothed) and the exact two-sample KS
    statistic over document lengths."""
    import os

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.drift import ks_report, psi_report
    from ocr_vector_db_spark.operators.index_maint import fs_exists

    spark = _spark()
    acc_path = os.path.join(args.store, "accepted")
    if not fs_exists(spark, acc_path):
        print("[error] no accepted corpus under the store — "
              "run `stream-ingest` first")
        return 1
    acc = (spark.read.option("basePath", acc_path)
           .option("mergeSchema", "true").parquet(acc_path))
    if args.batch:
        batch = spark.read.json(args.batch)
        u = acc.select(
            F.lit(True).alias("a"), F.length("text").alias("v")
        ).unionByName(batch.select(
            F.lit(False).alias("a"), F.length("text").alias("v")
        ))
        what = f"accepted corpus vs {args.batch}"
    else:
        u = acc.select(
            (F.col("doc_id") % 2 == 0).alias("a"),
            F.length("text").alias("v"),
        )
        what = "even vs odd accepted epochs"
    r = psi_report(u, F.col("a"), "v", bins=args.bins).head()
    k = ks_report(u, F.col("a"), "v").head()
    print(f"[drift] {what} over doc length: n_a={r.n_a} n_b={r.n_b}")
    print(f"[drift] PSI={r.psi:.6f} JSD={r.jsd:.6f} "
          f"(bins={r.n_bins}; <0.1 stable, >0.25 shifted)")
    print(f"[drift] KS={k.ks:.6f} over {k.n_values} distinct lengths")
    return 0


def cmd_decontam(args) -> int:
    """Benchmark decontamination via the persisted Bloom filter
    (`{store}/bloom`, `operators/sketches.py::BloomSketch`, q149's
    operator): `--build FILE` folds a JSONL benchmark corpus's 2-gram
    shingles into m bits (packed words under generation pointers);
    `--add FILE` ORs more benchmark docs in (idempotent — add ≡ rebuild);
    `--screen FILE` flags a candidate batch by k broadcast-join probes —
    zero false negatives, so an unflagged doc is CERTAIN clean — and,
    when the exact gram table exists (two-phase builds), runs the exact
    confirm join on the flagged remainder so the verdict distinguishes
    LEAK from bloom-fp. Without a file, prints the filter's fill stats
    and implied FP rate."""
    import math
    import os

    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.dedup import _doc_shingles
    from ocr_vector_db_spark.operators.index_maint import (
        current_gen_dir, fs_exists, publish,
    )
    from ocr_vector_db_spark.operators.sketches import (
        _BLOOM_WORD_BITS, BloomSketch,
    )

    spark = _spark()
    path = os.path.join(args.store, "bloom")
    grams_path = os.path.join(args.store, "bench_grams")

    def _shingles(file):
        return _doc_shingles(spark.read.json(file), "text", "doc_id", 2)

    if args.build:
        grams = _shingles(args.build).select("shingle").distinct()
        sk = BloomSketch.build(
            spark, grams, path, F.col("shingle"),
            m=args.m_bits, k=args.k_hashes,
        )
        # persist the EXACT gram set next to the filter: benchmark
        # corpora are eval-sized (tiny vs the corpus), and the streaming
        # gate's phase-2 confirm joins only flagged docs' shingles
        # against it — Bloom FPs then never drop clean documents
        publish(spark, grams_path, grams.coalesce(1), first=True)
        print(f"[decontam] built m={sk.m} k={sk.k} at {path} "
              f"(+ exact grams at {grams_path})")
        return 0
    if not fs_exists(spark, path):
        print("[error] no bloom filter under the store — run "
              "`decontam --build FILE` first")
        return 1
    sk = BloomSketch.load(spark, path)
    if args.add:
        grams = _shingles(args.add).select("shingle").distinct()
        sk.add(grams, F.col("shingle"))
        if fs_exists(spark, grams_path):
            merged = (
                spark.read.parquet(current_gen_dir(spark, grams_path))
                .unionByName(grams).distinct()
            )
            publish(spark, grams_path, merged.coalesce(1))
        else:
            # pre-two-phase store: the build corpus's exact grams were
            # never persisted, so a table seeded from this add alone
            # would be PARTIAL — phase 2 would then clear docs leaked
            # from the original build corpus. Stay single-phase
            # (over-dropping, but never under-dropping) until a
            # rebuild persists the full set.
            print("[decontam] note: no exact-gram table under this "
                  "store (pre-two-phase build) — not seeding a partial "
                  "one; rebuild with --build to enable the exact "
                  "confirm phase")
        print(f"[decontam] folded {args.add} into m={sk.m} k={sk.k}")
        return 0
    if args.screen:
        sh = _shingles(args.screen)
        # verdict on the UNROUNDED ratio (q149/pipeline semantics);
        # `contamination` is rounded for display only
        per = (
            sk.screen(sh, F.col("shingle"), "doc")
            .groupBy("doc")
            .agg(F.count("*").alias("n_shingles"),
                 F.sum(F.col("maybe_member").cast("int")).alias("n_maybe"))
            .withColumn("flagged",
                        (F.col("n_maybe")
                         / F.col("n_shingles").cast("double"))
                        >= args.threshold)
            .withColumn("contamination",
                        F.round(F.col("n_maybe")
                                / F.col("n_shingles").cast("double"), 6))
        )
        # phase 2 when the exact gram table exists (two-phase builds):
        # re-check only the FLAGGED docs' shingles against it — O(flagged)
        # — so the printed verdict means CONFIRMED leak, not bloom-maybe
        two_phase = fs_exists(spark, grams_path)
        if two_phase:
            bench = F.broadcast(
                spark.read.parquet(current_gen_dir(spark, grams_path))
                .select("shingle").distinct().withColumn("__hit", F.lit(1))
            )
            exact = (
                sh.join(per.filter("flagged").select("doc"), "doc",
                        "left_semi")
                .join(bench, "shingle", "left")
                .groupBy("doc")
                .agg((F.sum(F.coalesce("__hit", F.lit(0)))
                      / F.count("*")).alias("__exact"))
            )
            per = (
                per.join(exact, "doc", "left")
                .withColumn("confirmed",
                            F.col("flagged")
                            & (F.coalesce("__exact", F.lit(0.0))
                               >= args.threshold))
                .withColumn("exact_contamination",
                            F.round(F.coalesce("__exact", F.lit(0.0)), 6))
                .drop("__exact")
            )
        # full per-doc results land in the store (distributed write — a
        # large candidate batch never reaches the driver); only flagged
        # docs print, capped
        out = os.path.join(args.store, "decontam_screen")
        per.write.mode("overwrite").parquet(out)
        per = spark.read.parquet(out)
        n_docs = per.count()
        flagged = per.filter("flagged").count()
        cap = 50
        for r in (per.filter("flagged")
                  .orderBy(F.desc("contamination"), "doc").limit(cap)
                  .collect()):
            if two_phase:
                mark = "LEAK" if r.confirmed else "bloom-fp"
                print(f"{r.doc}\t{r.n_shingles}\t{r.n_maybe}\t"
                      f"{r.contamination}\t{r.exact_contamination}\t{mark}")
            else:
                print(f"{r.doc}\t{r.n_shingles}\t{r.n_maybe}\t"
                      f"{r.contamination}\tFLAG")
        if flagged > cap:
            print(f"[decontam] ... {flagged - cap} more flagged doc(s) "
                  f"in {out}")
        if two_phase:
            confirmed = per.filter("confirmed").count()
            print(f"[decontam] {flagged}/{n_docs} bloom-flagged ≥ "
                  f"{args.threshold}, {confirmed} exact-confirmed "
                  f"(per-doc results: {out})")
        else:
            print(f"[decontam] {flagged}/{n_docs} doc(s) ≥ "
                  f"{args.threshold} (per-doc results: {out}) — "
                  "exact-join only the flagged remainder (negatives are "
                  "certain)")
        return 0
    stats = sk.words().agg(
        F.coalesce(F.sum(F.bit_count("bits")), F.lit(0)).alias("set_bits")
    ).head()
    fill = stats.set_bits / sk.m
    # invert fill = 1-e^(-kn/m) for the implied member count, then the
    # standard FP estimate (1-e^(-kn/m))^k = fill^k
    n_est = -sk.m / sk.k * math.log(max(1.0 - fill, 1e-12))
    print(f"[decontam] m={sk.m} k={sk.k} words={_BLOOM_WORD_BITS}b "
          f"set_bits={stats.set_bits} fill={fill:.4f} "
          f"n≈{n_est:.0f} fp≈{fill ** sk.k:.6f}")
    return 0


def cmd_tokenizer(args) -> int:
    """Train / extend / apply the persisted BPE tokenizer
    (`{store}/tokenizer`, `operators/bpe.py::BPETokenizer`): `--train N`
    learns N merges over the accepted stream corpus and persists
    {merges, vocab} atomically; `--extend N` learns N more from the
    STORED vocabulary (no corpus scan — the resume path); `--count FILE`
    segments a JSONL batch of {doc_id, text} rows with the stored merge
    table and prints per-doc word/BPE-token counts (the sequence-budget
    signal the packer consumes). Default action prints the merge table."""
    import os

    from ocr_vector_db_spark.operators.bpe import BPETokenizer
    from ocr_vector_db_spark.operators.index_maint import fs_exists

    spark = _spark()
    path = os.path.join(args.store, "tokenizer")
    if args.train:
        acc_path = os.path.join(args.store, "accepted")
        if not fs_exists(spark, acc_path):
            print("[error] no accepted corpus under the store — "
                  "run `stream-ingest` first")
            return 1
        docs = (spark.read.option("basePath", acc_path)
                .option("mergeSchema", "true").parquet(acc_path))
        tok = BPETokenizer.build(spark, docs, path, args.train)
        print(f"[tokenizer] trained {len(tok.merges())} merges at {path}")
        return 0
    if not fs_exists(spark, path):
        print("[error] no tokenizer under the store — run "
              "`tokenizer --train N` first")
        return 1
    tok = BPETokenizer.load(spark, path)
    if args.extend:
        tok.extend(args.extend)
        print(f"[tokenizer] extended to {len(tok.merges())} merges")
        return 0
    if args.count:
        batch = spark.read.json(args.count)
        rows = tok.token_counts(batch).orderBy("doc_id").collect()
        for r in rows:
            print(f"{r['doc_id']}\t{r.n_words}\t{r.n_bpe_tokens}")
        print(f"[tokenizer] counted {len(rows)} docs")
        return 0
    for m in tok.merges():
        print(f"{m['step']}\t{m['la']}\t{m['lb']}\t{m['pair_count']}")
    return 0


def cmd_stream_ingest(args) -> int:
    """Incremental near-dup-gated ingestion — the streaming extension of
    the reference's re-runnable CLI ingest loop (api/cli/ingest.py): each
    run drains the JSON document files under --source (one `{"doc_id": N,
    "text": ...}` per line), dedups each micro-batch within itself,
    screens survivors against the store's PERSISTED MinHash index, and
    folds accepted docs in so later batches (and later runs) screen
    against them too.

    Accepted rows land distributed under `{store}/accepted/epoch_id=N`
    (never collected to the driver); the checkpoint makes re-runs
    incremental (a re-run with nothing new is a no-op), the epoch ledger
    makes crash replays safe without per-batch corpus-sized re-add
    guards, and `--compact-every` bounds the index's file count."""
    import os

    from ocr_vector_db_spark.operators.index_maint import EpochLedger, fs_exists
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
    from ocr_vector_db_spark.streaming.pipeline import (
        ParquetAcceptedSink,
        stream_ingest_deduped,
    )

    spark = _spark()
    mh_path = os.path.join(args.store, "mhidx")
    # Hadoop-FS probes, not os.path: the store may live on HDFS/object
    # storage where a local stat always says "missing"
    if fs_exists(spark, os.path.join(mh_path, "meta.json")):
        idx = MinHashIndex.load(spark, mh_path)
    else:
        empty = spark.createDataFrame([], "doc_id bigint, text string")
        idx = MinHashIndex.build(
            spark, empty, mh_path, num_hashes=args.num_hashes,
            bands=args.bands, n=2, n_buckets=args.buckets,
        )
    sem_idx = None
    if getattr(args, "semantic", False):
        from ocr_vector_db_spark.operators.ann_index import IVFIndex

        sem_path = os.path.join(args.store, "semidx")
        if not fs_exists(spark, os.path.join(sem_path, "centroids.json")):
            print("[error] --semantic needs the dense gate index — "
                  "run the `semantic-index` command first")
            return 1
        sem_idx = IVFIndex.load(spark, sem_path)
    lm_gate = None
    if getattr(args, "lm_band", None):
        from ocr_vector_db_spark.operators.ngram_lm_index import NgramLMIndex

        lm_path = os.path.join(args.store, "lmidx")
        if not fs_exists(spark, os.path.join(lm_path, "stats")):
            print("[error] --lm-band needs the LM index — run "
                  "`lm-index --build` first")
            return 1
        lo, hi = args.lm_band
        lm_gate = (NgramLMIndex.load(spark, lm_path), lo, hi)
    vocab_sketch = None
    if getattr(args, "vocab_sketch", False):
        from pyspark.sql import functions as F

        from ocr_vector_db_spark.operators.sketches import HLLSketch

        hll_path = os.path.join(args.store, "vocab_hll")
        if fs_exists(spark, os.path.join(hll_path, "meta.json")):
            vocab_sketch = HLLSketch.load(spark, hll_path)
        else:
            empty = spark.createDataFrame([], "doc_id bigint, text string")
            vocab_sketch = HLLSketch.build(
                spark, empty, hll_path, F.col("text"), p=12
            )
    tokenfreq_sketch = None
    if getattr(args, "tokenfreq_sketch", False):
        from pyspark.sql import functions as F

        from ocr_vector_db_spark.operators.sketches import CMSketch

        cm_path = os.path.join(args.store, "tokenfreq_cm")
        if fs_exists(spark, os.path.join(cm_path, "meta.json")):
            tokenfreq_sketch = CMSketch.load(spark, cm_path)
        else:
            empty = spark.createDataFrame([], "doc_id bigint, text string")
            tokenfreq_sketch = CMSketch.build(
                spark, empty, cm_path, F.col("text"), w=1 << 12, d=4
            )
    running_sample = None
    if getattr(args, "sample", None):
        from ocr_vector_db_spark.operators.sampling import RunningSample

        running_sample = RunningSample(
            spark, os.path.join(args.store, "sample"),
            k=args.sample, weight_col="__len",
        )
    decontam_gate = None
    if getattr(args, "decontam", None) is not None:
        from ocr_vector_db_spark.operators.sketches import BloomSketch

        bloom_path = os.path.join(args.store, "bloom")
        if not fs_exists(spark, os.path.join(bloom_path, "meta.json")):
            print("[error] --decontam needs the benchmark bloom filter — "
                  "run `decontam --build FILE` first")
            return 1
        decontam_gate = (BloomSketch.load(spark, bloom_path), args.decontam)
        grams_path = os.path.join(args.store, "bench_grams")
        if fs_exists(spark, grams_path):
            # two-phase mode: the exact gram set persisted by
            # `decontam --build/--add` confirms Bloom flags, so a false
            # positive can never drop a clean document
            from ocr_vector_db_spark.operators.index_maint import (
                current_gen_dir,
            )

            decontam_gate = decontam_gate + (
                spark.read.parquet(current_gen_dir(spark, grams_path)),
            )
    drift_bl = None
    if getattr(args, "drift_baseline", False):
        from pyspark.sql import functions as F

        from ocr_vector_db_spark.operators.drift import DriftBaseline

        bl_path = os.path.join(args.store, "drift_bl")
        if fs_exists(spark, os.path.join(bl_path, "state")):
            drift_bl = DriftBaseline.load(spark, bl_path)
        else:
            acc_path = os.path.join(args.store, "accepted")
            if not fs_exists(spark, acc_path):
                print("[error] --drift-baseline needs either an existing "
                      "baseline or an accepted corpus to seed one — run "
                      "a plain `stream-ingest` pass first")
                return 1
            seed = (spark.read.option("basePath", acc_path)
                    .option("mergeSchema", "true").parquet(acc_path)
                    .select(F.length("text").alias("__dv")))
            drift_bl = DriftBaseline.build(spark, seed, "__dv", bl_path)
            print(f"[stream-ingest] seeded drift baseline from the "
                  f"accepted corpus at {bl_path}")
    stats: list = []
    q = stream_ingest_deduped(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", args.files_per_batch)
        .json(args.source),
        idx,
        ParquetAcceptedSink(os.path.join(args.store, "accepted")),
        threshold=args.threshold,
        stats=stats,
        checkpoint=os.path.join(args.store, "stream_checkpoint"),
        ledger=EpochLedger(spark, os.path.join(mh_path, "_epochs")),
        compact_every=args.compact_every,
        semantic_index=sem_idx,
        semantic_threshold=args.semantic_threshold,
        semantic_intra_nprobe=(
            getattr(args, "semantic_intra_nprobe", 2) or None
        ),
        semantic_branches=getattr(args, "semantic_branches", None),
        lm_gate=lm_gate,
        vocab_sketch=vocab_sketch,
        tokenfreq_sketch=tokenfreq_sketch,
        drift_baseline=drift_bl,
        sample=running_sample,
        decontam_gate=decontam_gate,
    )
    q.awaitTermination()
    acc = sum(s["accepted"] for s in stats)
    drop = sum(s["dropped_as_dup"] for s in stats)
    lmdrop = sum(s.get("dropped_low_quality", 0) for s in stats)
    lm_note = f", dropped {lmdrop} low-quality" if lm_gate else ""
    dcdrop = sum(s.get("dropped_contaminated", 0) for s in stats)
    dc_note = f", dropped {dcdrop} contaminated" if decontam_gate else ""
    if decontam_gate and any("flagged_contaminated" in s for s in stats):
        dcflag = sum(s.get("flagged_contaminated", 0) for s in stats)
        dc_note += f" ({dcflag} bloom-flagged, exact-confirmed {dcdrop})"
    print(f"[stream-ingest] {len(stats)} micro-batches: accepted {acc}, "
          f"dropped {drop} near-dups{lm_note}{dc_note}; accepted rows under "
          f"{args.store}/accepted")
    if vocab_sketch is not None:
        print(f"[stream-ingest] running vocabulary estimate: "
              f"{vocab_sketch.estimate():.0f} distinct tokens")
    if tokenfreq_sketch is not None:
        print(f"[stream-ingest] running token-frequency sketch: "
              f"folded through epoch {tokenfreq_sketch.last_epoch()} "
              f"under {os.path.join(args.store, 'tokenfreq_cm')}")
    if drift_bl is not None:
        for s_ in stats:
            if "psi" in s_:
                print(f"[stream-ingest] epoch {s_['epoch']} arrival "
                      f"PSI vs baseline: {s_['psi']:.6f}")
    if running_sample is not None:
        cur = running_sample.current()
        n_s = cur.count() if cur is not None else 0
        print(f"[stream-ingest] running weighted sample: {n_s} docs "
              f"(k={args.sample}, weight=doc length) under "
              f"{args.store}/sample")
    return 0


# One row per modality of the streaming asset gate (`streaming/assets.py`).
# Objects are dotted names under the package, imported when the command
# runs. `normalize` decodes container rows (PNG pages, mono 16-bit WAV
# clips, animated gray GIFs; magic-byte detected) to the raw row shape
# before the gate, so a re-encode of an indexed asset dedups perceptually
# instead of falling to the exact-hash path. `dirs` are the index,
# exact-key store, sink and checkpoint dirs under --store; `extras` are
# index parameters persisted at build time (flag, argparse kwargs);
# `nouns` fill the summary line.
_ASSET_MODALITIES = {
    "images": {
        "index": "operators.image_hash.PhashIndex",
        "schema": "asset_id string, data binary, width int, height int",
        "normalize": "sources.containers.normalize_frame_rows",
        "hashable": "streaming.assets.hashable_frames_pred",
        "exact_key": "streaming.assets.exact_frame_key",
        "dirs": ("phash_index", "exact_frames", "accepted_assets",
                 "asset_stream_checkpoint"),
        "extras": (),
        "nouns": ("images", "hash", "frames"),
        "radius": (4, "dHash Hamming radius for 'same image'"),
        "source_help": "directory of parquet asset-frame files "
                       "(asset_id string, data binary, width int, "
                       "height int — asset_gray_frames output; mixed "
                       "gray/RGB corpora use the library path with "
                       "asset_raw_frames)",
    },
    "audio": {
        "index": "operators.audio_fingerprint.AudioFpIndex",
        "schema": "asset_id string, data binary",
        "normalize": "sources.containers.normalize_clip_rows",
        "hashable": "streaming.assets.hashable_clips_pred",
        "exact_key": "streaming.assets.exact_clip_key",
        "dirs": ("afp_index", "exact_clips", "accepted_audio",
                 "audio_stream_checkpoint"),
        "extras": (),
        "nouns": ("clips", "frame", "clips"),
        "radius": (6, "fingerprint Hamming radius for 'same recording'"),
        "source_help": "directory of parquet clip files (asset_id "
                       "string, data binary — raw mono PCM16LE, "
                       "asset_pcm_frames output)",
    },
    "video": {
        "index": "operators.video_hash.VideoFpIndex",
        "schema": "asset_id string, data binary, width int, height int, "
                  "n_frames int",
        "normalize": "sources.containers.normalize_video_rows",
        "hashable": "streaming.assets.hashable_videos_pred",
        "exact_key": "streaming.assets.exact_video_key",
        "dirs": ("vfp_index", "exact_videos", "accepted_videos",
                 "video_stream_checkpoint"),
        "extras": (
            ("--every", {"type": int, "default": 1,
                         "help": "frame sampling stride (persisted in the "
                                 "index)"}),
            ("--min-frac", {"type": float, "default": 0.6,
                            "help": "aligned matched fraction for 'same "
                                    "video'"}),
        ),
        "nouns": ("videos", "hash", "clips"),
        "radius": (4, "per-frame dHash Hamming radius"),
        "source_help": "directory of parquet clip files (asset_id "
                       "string, data binary, width int, height int, "
                       "n_frames int — raw gray frame buffers)",
    },
}


def cmd_stream_ingest_assets(args) -> int:
    """Incremental dedup-gated ingestion of image, audio or video assets —
    `stream-ingest`'s twin for raw assets (`streaming/assets.py`). Each
    run drains the parquet asset files under --source, drops intra-batch
    near-dups (keep-min), screens survivors against the store's PERSISTED
    fingerprint index at --radius, and folds accepted assets in so later
    batches (and later runs) screen against them too. Images hash by
    dHash (PhashIndex), PCM clips by energy fingerprint (AudioFpIndex:
    gain and 2x-resample re-encodes land at Hamming 0), video clips by
    aligned frame hashes (VideoFpIndex: a duplicate when >= --min-frac of
    its sampled positions match one indexed clip within --radius). Assets
    below the hash grid dedup by exact byte hash against the persisted
    ExactFrameStore."""
    import importlib
    import os

    from ocr_vector_db_spark.operators.index_maint import (
        EpochLedger, fs_exists,
    )
    from ocr_vector_db_spark.streaming.assets import (
        ExactFrameStore,
        stream_ingest_asset_dedup,
    )
    from ocr_vector_db_spark.streaming.pipeline import ParquetAcceptedSink

    def obj(dotted: str):
        mod, _, name = dotted.rpartition(".")
        return getattr(
            importlib.import_module(f"ocr_vector_db_spark.{mod}"), name
        )

    m = _ASSET_MODALITIES[args.modality]
    index_dir, exact_dir, accepted_dir, ckpt_dir = (
        os.path.join(args.store, d) for d in m["dirs"]
    )
    extras = {flag[2:].replace("-", "_"): flag for flag, _ in m["extras"]}
    index_cls = obj(m["index"])
    spark = _spark()
    if fs_exists(spark, os.path.join(index_dir, "meta.json")):
        idx = index_cls.load(spark, index_dir)
        if idx.r != args.radius:
            print(f"[error] store index was built at r={idx.r}; "
                  f"--radius {args.radius} would change the banded "
                  "layout — rebuild or match it")
            return 1
        # extras travel WITH the index (a screen sampling differently
        # from the build silently misses alignments) — the persisted
        # values win, so a differing flag deserves a warning
        for dest, flag in extras.items():
            if getattr(args, dest) != getattr(idx, dest):
                print(f"[warn] store index was built at "
                      f"{dest}={getattr(idx, dest)}; {flag} "
                      f"{getattr(args, dest)} is ignored (persisted value "
                      "wins)")
    else:
        idx = index_cls.build(
            spark, spark.createDataFrame([], m["schema"]), index_dir,
            r=args.radius, n_buckets=args.buckets,
            **{dest: getattr(args, dest) for dest in extras},
        )

    stats: list = []
    q = stream_ingest_asset_dedup(
        obj(m["normalize"])(
            spark.readStream
            .schema(m["schema"])
            .option("maxFilesPerTrigger", args.files_per_batch)
            .parquet(args.source)
        ),
        idx,
        ParquetAcceptedSink(accepted_dir),
        stats=stats,
        checkpoint=ckpt_dir,
        ledger=EpochLedger(spark, os.path.join(index_dir, "_epochs")),
        compact_every=args.compact_every,
        exact_store=ExactFrameStore(spark, exact_dir),
        hashable_pred=obj(m["hashable"]),
        exact_key=obj(m["exact_key"]),
    )
    q.awaitTermination()
    acc, drop, unh, xdrop = (
        sum(s[k] for s in stats)
        for k in ("accepted", "dropped_as_dup", "unhashable",
                  "dropped_exact_dup")
    )
    dup, grid, kept = m["nouns"]
    print(f"[stream-ingest-{args.modality}] {len(stats)} micro-batches: "
          f"accepted {acc}, dropped {drop} near-dup {dup}; {unh} below the "
          f"{grid} grid ({xdrop} dropped byte-identical); accepted {kept} "
          f"under {accepted_dir}")
    return 0


def cmd_pack(args) -> int:
    """Pack stored fragments into token-budget training sequences, per
    language shard; prints the per-shard pack summary."""
    from pyspark.sql import functions as F

    from ocr_vector_db_spark.operators.packing import pack_documents, pack_stats
    from ocr_vector_db_spark.storage import EntityStore

    spark = _spark()
    store = EntityStore(spark, args.store)
    frags = store.read("fragments").withColumn(
        "shard_lang", F.coalesce(F.col("language"), F.lit("unknown"))
    )
    packed = pack_documents(
        frags, budget=args.budget, shard_col="shard_lang",
        id_col="id", text_col="content",
    )
    stats = pack_stats(packed, budget=args.budget)
    agg = (
        stats.groupBy("shard")
        .agg(
            F.count("*").alias("n_packs"),
            F.sum("n_docs").alias("n_fragments"),
            F.sum("pack_tokens").alias("total_tokens"),
            F.round(F.avg("fill_ratio"), 4).alias("avg_fill"),
        )
        .orderBy("shard")
        .collect()
    )
    for r in agg:
        print(f"[pack] shard={r.shard} packs={r.n_packs} fragments={r.n_fragments} "
              f"tokens={r.total_tokens} avg_fill={r.avg_fill}")
    return 0


def _repl_help(rag_mode: bool) -> str:
    base = (
        "\nCommands:\n"
        "  :help                 Show this help\n"
        "  :quit / :q / exit     Quit\n"
        "  :show                 Show current settings\n"
        "  :view <type|none>     Set view filter (text/code/image/caption/table/figure)\n"
        "  :lang <name|none>     Set language filter (python/javascript/etc.)\n"
        "  :topk <int>           Set top-k results\n"
    )
    search = (
        "  :context <on|off>     Toggle parent context\n"
        "  :json <on|off>        Toggle JSON output\n"
        "  :hybrid <on|off>      Toggle hybrid (BM25+dense RRF) retrieval\n"
    )
    rag = (
        "  :rag <on|off>         Toggle RAG mode (LLM generation)\n"
        "  :sources              Show sources from last response\n"
        "  :conversation <on|off> Toggle multi-turn conversation\n"
        "  :clear-history        Clear conversation history\n"
    )
    if rag_mode:
        return base + rag + "\nEnter any text to ask a question.\n"
    return base + search + rag + "\nEnter any text to run a search.\n"


def _parse_toggle(value: str) -> bool:
    return value.lower() in ("1", "true", "yes", "y", "on")


def cmd_repl(args, stdin=None, out=None) -> int:
    """Interactive REPL — api/cli/repl.py parity: the same command set
    (:view/:lang/:topk/:context/:json/:rag/:sources/:conversation/
    :clear-history), search and RAG modes over one long-lived session,
    conversation memory, and :sources echoing the last response's citations
    + query-optimizer hints. `stdin`/`out` injectable for tests."""
    from pyspark.sql import functions as F

    from ocr_vector_db_spark.plans import query_optimizer, rag
    from ocr_vector_db_spark.plans.pipeline import RetrievalPipeline
    from ocr_vector_db_spark.plans.query import ValidationError, validate_request
    from ocr_vector_db_spark.storage import EntityStore

    stdin = stdin if stdin is not None else sys.stdin
    out = out if out is not None else sys.stdout

    def emit(s: str = "") -> None:
        print(s, file=out)

    spark = _spark()
    store = EntityStore(spark, args.store)
    lex_idx, ivf_idx = _load_serving_indexes(spark, args.store)
    pipe = RetrievalPipeline(
        store.read("embeddings"), store.read("parents"), dim=args.dim,
        lexical_index=lex_idx, ivf_index=ivf_idx, index_id_col="vec_id",
    )
    view = args.view
    language = args.language
    top_k = args.top_k
    show_context = not args.no_context
    as_json = args.json
    rag_mode = args.rag
    hybrid_mode = False
    use_conversation = True
    conversation = rag.Conversation()
    last_response = None

    emit("OCR Vector DB RAG REPL (LLM-powered)" if rag_mode
         else "OCR Vector DB Search REPL")
    emit("Type :help for commands.")

    for raw in stdin:
        line = raw.strip()
        if not line:
            continue
        cmd = line.split()
        head = cmd[0].lower()

        if head in (":quit", ":q", "exit"):
            break
        if head == ":help":
            emit(_repl_help(rag_mode))
            continue
        if head == ":show":
            emit("Current settings:")
            emit(f"  rag_mode:    {'on' if rag_mode else 'off'}")
            emit(f"  view:        {view or '<none>'}")
            emit(f"  language:    {language or '<none>'}")
            emit(f"  top_k:       {top_k}")
            if not rag_mode:
                emit(f"  context:     {'on' if show_context else 'off'}")
                emit(f"  json:        {'on' if as_json else 'off'}")
                emit(f"  hybrid:      {'on' if hybrid_mode else 'off'}")
            else:
                emit(f"  conversation: {'on' if use_conversation else 'off'}")
            continue
        if head == ":view":
            if len(cmd) < 2:
                emit("[error] usage: :view <type|none>")
                continue
            view = None if cmd[1].lower() == "none" else cmd[1].lower()
            emit(f"[ok] view set to {view or '<none>'}")
            continue
        if head == ":lang":
            if len(cmd) < 2:
                emit("[error] usage: :lang <name|none>")
                continue
            language = None if cmd[1].lower() == "none" else cmd[1]
            emit(f"[ok] language set to {language or '<none>'}")
            continue
        if head == ":topk":
            if len(cmd) < 2 or not cmd[1].isdigit():
                emit("[error] usage: :topk <int>")
                continue
            top_k = int(cmd[1])
            emit(f"[ok] top_k set to {top_k}")
            continue
        if head == ":context":
            if len(cmd) < 2:
                emit("[error] usage: :context <on|off>")
                continue
            show_context = _parse_toggle(cmd[1])
            emit(f"[ok] context {'on' if show_context else 'off'}")
            continue
        if head == ":json":
            if len(cmd) < 2:
                emit("[error] usage: :json <on|off>")
                continue
            as_json = _parse_toggle(cmd[1])
            emit(f"[ok] json {'on' if as_json else 'off'}")
            continue
        if head == ":rag":
            if len(cmd) < 2:
                emit("[error] usage: :rag <on|off>")
                continue
            rag_mode = _parse_toggle(cmd[1])
            emit(f"[ok] RAG mode {'on' if rag_mode else 'off'}")
            continue
        if head == ":sources":
            if last_response is not None and last_response.sources:
                emit("\nSources from last response:")
                for i, r in enumerate(last_response.sources, 1):
                    src = getattr(r, "source", None) or "unknown"
                    emit(f"  [{i}] {src} ({r.view}, sim: {r.similarity:.3f})")
                opt = query_optimizer.optimize(last_response.query)
                emit("\nQuery optimization:")
                emit(f"  Keywords: {', '.join(opt.keywords)}")
                if opt.view_hint:
                    emit(f"  View hint: {opt.view_hint}")
                if opt.language_hint:
                    emit(f"  Language hint: {opt.language_hint}")
            else:
                emit("[info] No previous RAG response")
            continue
        if head == ":hybrid":
            if len(cmd) < 2:
                emit("[error] usage: :hybrid <on|off>")
                continue
            hybrid_mode = _parse_toggle(cmd[1])
            served = ("persisted indexes" if pipe.lexical_index is not None
                      else "scan path")
            emit(f"[ok] hybrid {f'on ({served})' if hybrid_mode else 'off'}")
            continue
        if head == ":conversation":
            if len(cmd) < 2:
                emit("[error] usage: :conversation <on|off>")
                continue
            use_conversation = _parse_toggle(cmd[1])
            emit(f"[ok] conversation {'on' if use_conversation else 'off'}")
            continue
        if head == ":clear-history":
            conversation.clear()
            emit("[ok] conversation history cleared")
            continue

        # plain text → query
        try:
            validate_request(line, view, top_k)
        except ValidationError as exc:
            emit(f"[error] {exc}")
            continue
        if hybrid_mode and not rag_mode:
            fused = pipe.retrieve_hybrid(line, top_k=top_k)
            frags = pipe.embeddings.select(
                F.col("fragment_id").alias("id"), "content"
            )
            for r in (
                fused.join(frags, "id").orderBy("fused_rank").collect()
            ):
                emit(f"  #{r.fused_rank}  rrf={r.rrf:.6f}  "
                     f"systems={r.n_systems}  {r.id[:24]}  "
                     f"{(r.content or '')[:60]!r}")
            continue
        rows = pipe.retrieve(
            line, view=view, language=language, top_k=top_k,
            expand_context=show_context,
        ).collect()
        if rag_mode:
            resp = rag.generate(
                line, rows,
                conversation=conversation if use_conversation else None,
            )
            last_response = resp
            emit(f"\n{resp.format_with_sources()}\n")
        else:
            fmt = _formatters_json if as_json else _formatters_text
            emit(fmt(rows, show_context=show_context))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ocr_vector_db_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--store", required=True)
        sp.add_argument("--dim", type=int, default=64)

    sp = sub.add_parser("ingest")
    sp.add_argument("files", nargs="+")
    common(sp)
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser("search")
    sp.add_argument("query")
    common(sp)
    sp.add_argument("--view")
    sp.add_argument("--language")
    sp.add_argument("--top-k", type=int, default=10)
    sp.add_argument("--json", action="store_true")
    sp.add_argument("--no-context", action="store_true")
    sp.set_defaults(fn=cmd_search)

    sp = sub.add_parser("rag")
    sp.add_argument("query")
    common(sp)
    sp.add_argument("--top-k", type=int, default=5)
    sp.set_defaults(fn=cmd_rag)

    sp = sub.add_parser("quality")
    common(sp)
    sp.add_argument("--golden", required=True)
    sp.set_defaults(fn=cmd_quality)

    sp = sub.add_parser("metrics")
    common(sp)
    sp.set_defaults(fn=cmd_metrics)

    sp = sub.add_parser("delete")
    sp.add_argument("paths", nargs="+")
    common(sp)
    sp.set_defaults(fn=cmd_delete)

    sp = sub.add_parser("index")
    common(sp)
    sp.add_argument("--clusters", type=int, default=16)
    sp.add_argument("--buckets", type=int, default=64)
    sp.set_defaults(fn=cmd_index)

    sp = sub.add_parser("index-search")
    sp.add_argument("query")
    common(sp)
    sp.add_argument("--top-k", type=int, default=10)
    sp.add_argument("--nprobe", type=int, default=3)
    sp.set_defaults(fn=cmd_index_search)

    sp = sub.add_parser("maintain")
    common(sp)
    sp.set_defaults(fn=cmd_maintain)

    sp = sub.add_parser("hybrid-search")
    sp.add_argument("query")
    common(sp)
    sp.add_argument("--top-k", type=int, default=5)
    sp.add_argument("--fuse-k", type=int, default=60)
    sp.add_argument("--indexed", action="store_true",
                    help="serve from the persisted lex+ivf indexes "
                         "(build with the `index` command)")
    sp.set_defaults(fn=cmd_hybrid_search)

    sp = sub.add_parser("stream-ingest")
    common(sp)
    sp.add_argument("--source", required=True,
                    help="directory of JSON-lines doc files "
                         '({"doc_id": N, "text": ...} per line)')
    sp.add_argument("--threshold", type=float, default=0.8)
    sp.add_argument("--num-hashes", type=int, default=16)
    sp.add_argument("--bands", type=int, default=4)
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--files-per-batch", type=int, default=64)
    sp.add_argument("--compact-every", type=int, default=32)
    sp.add_argument("--semantic", action="store_true",
                    help="also screen each batch against the dense gate "
                         "index (build with `semantic-index`)")
    sp.add_argument("--semantic-threshold", type=float, default=0.95)
    sp.add_argument("--semantic-intra-nprobe", type=int, default=2,
                    help="cluster probes for the intra-batch dense pass; "
                         "0 = exact all-pairs within each micro-batch")
    sp.add_argument("--semantic-branches", type=int, default=None,
                    help="L1 branches to probe when the gate index is "
                         "hierarchical (semantic-index --l1-branches); "
                         "routes every dense-gate assignment through the "
                         "L1->L2 join instead of a full centroid broadcast")
    sp.add_argument("--lm-band", nargs=2, type=float, metavar=("LO", "HI"),
                    default=None,
                    help="drop docs whose bigram-LM cross-entropy falls "
                         "outside [LO, HI] (CCNet-style quality filter; "
                         "needs `lm-index --build` first)")
    sp.add_argument("--sample", type=int, metavar="K",
                    help="maintain a persisted running A-ES weighted "
                         "sample of the accepted stream (k rows, weight "
                         "= doc length) under {store}/sample")
    sp.add_argument("--drift-baseline", action="store_true",
                    help="screen each epoch's arrivals against the "
                         "store's persisted length-distribution PSI "
                         "baseline (seeded from the accepted corpus on "
                         "first use) and fold accepted docs in")
    sp.add_argument("--vocab-sketch", action="store_true",
                    help="fold each accepted batch's tokens into the "
                         "store's running HLL vocabulary sketch "
                         "({store}/vocab_hll, created on first use)")
    sp.add_argument("--tokenfreq-sketch", action="store_true",
                    help="fold each accepted batch's tokens into the "
                         "store's running count-min frequency sketch "
                         "({store}/tokenfreq_cm, created on first use; "
                         "exactly-once per epoch via the sketch's own "
                         "generation marker)")
    sp.add_argument("--decontam", type=float, nargs="?", const=0.3,
                    metavar="THRESH", default=None,
                    help="drop docs whose 2-gram bloom contamination vs "
                         "the store's benchmark filter reaches THRESH "
                         "(default 0.3; needs `decontam --build` first)")
    sp.set_defaults(fn=cmd_stream_ingest)

    for name, m in _ASSET_MODALITIES.items():
        sp = sub.add_parser(f"stream-ingest-{name}")
        common(sp)
        sp.add_argument("--source", required=True, help=m["source_help"])
        radius, radius_help = m["radius"]
        sp.add_argument("--radius", type=int, default=radius,
                        help=radius_help)
        for flag, kwargs in m["extras"]:
            sp.add_argument(flag, **kwargs)
        sp.add_argument("--buckets", type=int, default=64)
        sp.add_argument("--files-per-batch", type=int, default=64)
        sp.add_argument("--compact-every", type=int, default=32)
        sp.set_defaults(fn=cmd_stream_ingest_assets, modality=name)

    sp = sub.add_parser("semantic-index")
    common(sp)
    sp.add_argument("--clusters", type=int, default=32)
    sp.add_argument("--l1-branches", type=int, default=None,
                    help="also fit a hierarchical coarse layer with this "
                         "many L1 branches (clamped to --clusters) — use "
                         "with stream-ingest --semantic-branches at large "
                         "cluster counts")
    sp.add_argument("--standardize", action="store_true",
                    help="whiten the gate corpus per dimension and persist "
                         "the (mu, sd) profile with the index "
                         "({store}/semidx/standardize.json); every later "
                         "screen/add applies the same profile, and "
                         "`maintain` compaction preserves it")
    sp.set_defaults(fn=cmd_semantic_index)

    sp = sub.add_parser("lm-index")
    common(sp)
    sp.add_argument("--build", action="store_true",
                    help="(re)build the LM over the accepted corpus")
    sp.add_argument("--score", metavar="FILE",
                    help="JSONL of {doc_id, text}: cross-entropy per doc "
                         "against the persisted counts")
    sp.add_argument("--pmi", action="store_true",
                    help="top collocations from the persisted counts "
                         "(default action)")
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--min-count", type=int, default=5)
    sp.add_argument("--top-k", type=int, default=50)
    sp.set_defaults(fn=cmd_lm_index)

    sp = sub.add_parser("drift")
    common(sp)
    sp.add_argument("--batch", metavar="FILE",
                    help="JSONL of {doc_id, text} to compare against the "
                         "accepted corpus (default: even/odd epoch "
                         "self-audit)")
    sp.add_argument("--bins", type=int, default=10)
    sp.set_defaults(fn=cmd_drift)

    sp = sub.add_parser("decontam")
    common(sp)
    sp.add_argument("--build", metavar="FILE",
                    help="JSONL benchmark corpus {doc_id, text}: fold its "
                         "2-gram shingles into a fresh bloom filter")
    sp.add_argument("--add", metavar="FILE",
                    help="fold more benchmark docs into the existing filter")
    sp.add_argument("--screen", metavar="FILE",
                    help="JSONL candidate batch: per-doc contamination "
                         "estimate + flag (zero false negatives)")
    sp.add_argument("--m-bits", type=int, default=60 * 4096,
                    help="filter size in bits (multiple of 60)")
    sp.add_argument("--k-hashes", type=int, default=3)
    sp.add_argument("--threshold", type=float, default=0.3)
    sp.set_defaults(fn=cmd_decontam)

    sp = sub.add_parser("tokenizer")
    common(sp)
    sp.add_argument("--train", type=int, metavar="N",
                    help="(re)train N merges over the accepted corpus")
    sp.add_argument("--extend", type=int, metavar="N",
                    help="learn N more merges from the stored vocabulary "
                         "(no corpus scan)")
    sp.add_argument("--count", metavar="FILE",
                    help="JSONL of {doc_id, text}: word + BPE token "
                         "counts per doc under the stored merge table")
    sp.set_defaults(fn=cmd_tokenizer)

    sp = sub.add_parser("pack")
    common(sp)
    sp.add_argument("--budget", type=int, default=512)
    sp.set_defaults(fn=cmd_pack)

    sp = sub.add_parser("repl")
    common(sp)
    sp.add_argument("--rag", action="store_true")
    sp.add_argument("--view")
    sp.add_argument("--language")
    sp.add_argument("--top-k", type=int, default=10)
    sp.add_argument("--json", action="store_true")
    sp.add_argument("--no-context", action="store_true")
    sp.set_defaults(fn=cmd_repl)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
