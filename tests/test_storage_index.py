"""EntityStore (upsert/cascade/reingest/compaction), IVF index persistence +
partition pruning + recall, embedding-provider harness."""

import re
import time

import pytest
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators import embedding_provider as ep
from ocr_vector_db_spark.operators.ann_index import IVFIndex
from ocr_vector_db_spark.sources.ingest import files_df, ingest
from ocr_vector_db_spark.storage import EntityStore

DOCS = [
    ("/corpus/a.md", "Alpha prose paragraph long enough to pass validation easily.\n\n```python\ndef a():\n    return 1\n```\n", "md"),
    ("/corpus/b.md", "Beta prose paragraph long enough to pass validation easily too.\n\n```python\ndef b():\n    return 2\n```\n", "md"),
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("entity_store"))
    st = EntityStore(spark, base)
    out = ingest(spark, files_df(spark, DOCS), dim=16)
    st.save_ingest(out)
    return st


def _view_partition_filters(store) -> str:
    """The scan's PartitionFilters list for a `view = 'code'` filter."""
    emb = store.read("embeddings").filter(F.col("view") == "code")
    plan = emb._jdf.queryExecution().executedPlan().toString()
    return re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)


def test_store_roundtrip_and_partitioning(store):
    n = store.read("embeddings").count()
    assert n > 0
    # partitioned by view → equality filter is partition pruning, before
    # and after compaction rewrites the table
    assert "view" in _view_partition_filters(store)
    store.compact()
    assert "view" in _view_partition_filters(store)
    assert store.read("embeddings").count() == n


def test_upsert_by_key_last_writer_wins(store, spark):
    parents = store.read("parents")
    some_id = parents.head().id
    update = spark.createDataFrame(
        [tuple(["REPLACED CONTENT" if f.name == "content" else some_id
                for f in parents.schema.fields])],
        parents.schema,
    )
    n_before = parents.count()
    store.upsert_by_key("parents", update, "id")
    after = store.read("parents")
    assert after.count() == n_before
    assert after.filter(F.col("id") == some_id).head().content == "REPLACED CONTENT"


def test_insert_if_absent(store, spark):
    emb = store.read("embeddings")
    n = emb.count()
    dup = emb.limit(1)
    store.insert_if_absent("embeddings_custom", emb, ["doc_id"])
    store.insert_if_absent("embeddings_custom", dup, ["doc_id"])  # conflict → no-op
    assert store.read("embeddings_custom").count() == n


def test_cascade_delete(store):
    from ocr_vector_db_spark.functions import hashing

    doomed = hashing.document_id("/corpus/a.md")
    counts = store.cascade_delete([doomed])
    assert counts["documents"] == 1
    assert store.read("concepts").filter(F.col("document_id") == doomed).count() == 0
    assert store.read("fragments").filter(F.col("document_id") == doomed).count() == 0
    # the deleted concepts' parent contexts go with them
    assert _ids(store, "parents") <= _ids(store, "concepts")


def _ids(store, table: str, col: str = "id") -> set:
    return {r[0] for r in store.read(table).select(col).collect()}


def test_ingests_add_to_the_store(spark, tmp_path):
    """Two ingests of different files keep both trees; re-ingesting one
    (cascade delete, then ingest) leaves no duplicate rows."""
    from ocr_vector_db_spark.functions import hashing

    st = EntityStore(spark, str(tmp_path / "store"))
    for doc in DOCS:
        st.save_ingest(ingest(spark, files_df(spark, [doc]), dim=16))
    both = ingest(spark, files_df(spark, DOCS), dim=16)

    def expected(table, col="id"):
        return {r[0] for r in both[table].select(col).collect()}

    for table, col in (("documents", "id"), ("concepts", "id"),
                       ("fragments", "id"), ("embeddings", "doc_id")):
        assert _ids(st, table, col) == expected(table, col), table
    concepts = _ids(st, "concepts")
    assert _ids(st, "parents") <= concepts
    assert _ids(st, "embeddings", "parent_id") <= concepts

    counts = {t: st.read(t).count() for t in ("concepts", "fragments", "embeddings")}
    st.cascade_delete([hashing.document_id(DOCS[0][0])])
    st.save_ingest(ingest(spark, files_df(spark, DOCS[:1]), dim=16))
    assert {t: st.read(t).count() for t in counts} == counts
    assert _ids(st, "embeddings", "doc_id") == expected("embeddings", "doc_id")

    # deleting every tree leaves the view-partitioned embeddings table no
    # parquet footer; it still reads, with the columns ingest writes
    st.cascade_delete([hashing.document_id(p) for p, _, _ in DOCS])
    for table in ("documents", "concepts", "fragments", "embeddings"):
        df = st.read(table)
        assert df.count() == 0 and sorted(df.dtypes) == sorted(both[table].dtypes)


@pytest.mark.parametrize("crash_point", ["write", "commit"])
def test_failed_cascade_delete_loses_no_table(spark, tmp_path, monkeypatch,
                                              crash_point):
    """A cascade delete whose third table write raises — in the parquet
    write, or at its commit — leaves all four tables readable, each at its
    rows from before or from after the delete; running the delete again
    finishes it."""
    from pyspark.sql import DataFrameWriter

    from ocr_vector_db_spark.functions import hashing
    from ocr_vector_db_spark.operators import index_maint

    st = EntityStore(spark, str(tmp_path / "store"))
    st.save_ingest(ingest(spark, files_df(spark, DOCS), dim=16))
    keys = {"documents": "id", "concepts": "id", "fragments": "id",
            "embeddings": "doc_id"}
    before = {t: _ids(st, t, k) for t, k in keys.items()}
    owner, name = {"write": (DataFrameWriter, "parquet"),
                   "commit": (index_maint, "commit_generation")}[crash_point]
    real = getattr(owner, name)
    calls = []

    def dying(*args, **kwargs):
        calls.append(args)
        if len(calls) == 3:
            raise RuntimeError("writer died")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, dying)
    doomed = [hashing.document_id(DOCS[0][0])]
    with pytest.raises(RuntimeError, match="writer died"):
        st.cascade_delete(doomed)
    monkeypatch.undo()

    mid = {t: _ids(st, t, k) for t, k in keys.items()}
    st.cascade_delete(doomed)
    after = {t: _ids(st, t, k) for t, k in keys.items()}
    assert all(after[t] < before[t] for t in keys)
    # child-first: embeddings and fragments committed, concepts and
    # documents did not
    assert [mid[t] == after[t] for t in keys] == [False, False, True, True]
    assert [mid[t] == before[t] for t in keys] == [True, True, False, False]


def test_ivf_index_persist_prune_recall(spark, tables, tmp_path_factory):
    emb = tables["embeddings"]
    path = str(tmp_path_factory.mktemp("ivf"))
    idx = IVFIndex.build(spark, emb, path, num_clusters=5)
    idx2 = IVFIndex.load(spark, path)
    assert [c[0] for c in idx2.centroids] == [0, 1, 2, 3, 4]

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).head().embedding]
    res = idx2.search(qv, k=5, nprobe=2)
    rows = res.collect()
    assert len(rows) == 5 and rows[0].vec_id == 3

    # the cluster filter must prune partitions, not scan-and-filter
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan.split("PartitionFilters")[1][:300]

    # full probe ⇒ recall 1.0; pruned probe stays useful
    assert idx2.recall_at_k(emb, [qv], k=10, nprobe=5) == 1.0
    assert idx2.recall_at_k(emb, [qv], k=10, nprobe=2) >= 0.3


def test_ivf_semantic_screen(spark, tables, tmp_path_factory):
    """screen_near_dups invariants: a stored vector screened against its
    own store flags itself at similarity 1.0 (top-1 is identity); flags at
    nprobe=1 are a subset of the exact full-probe flags (a probed-slice
    neighbor over the threshold is over it globally); and every full-probe
    attribution IS the true nearest stored neighbor."""
    emb = tables["embeddings"]
    stored = emb.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path_factory.mktemp("ivfscreen"))
    idx = IVFIndex.build(spark, stored, path, num_clusters=4)

    self_hits = idx.screen_near_dups(stored, threshold=0.999).collect()
    assert {r.vec_id for r in self_hits} == {r.vec_id for r in stored.collect()}
    assert all(r.dup_of == r.vec_id and r.similarity == 1.0 for r in self_hits)

    batch = emb.filter(F.col("vec_id") % 2 == 1)
    full = idx.screen_near_dups(batch, threshold=0.3)
    pruned = idx.screen_near_dups(batch, threshold=0.3, nprobe=1)
    full_ids = {r.vec_id for r in full.collect()}
    assert {r.vec_id for r in pruned.collect()} <= full_ids and full_ids

    # full probe ≡ exact nearest stored neighbor (knn_batch ground truth)
    from ocr_vector_db_spark.operators.knn import knn_batch
    exact = knn_batch(
        stored.select("vec_id", "embedding"),
        batch.select(F.col("vec_id").alias("query_id"), "embedding"),
        1, ids_only=True,
    ).filter(F.col("similarity") >= 0.3)
    assert {(r.query_id, r.vec_id, r.similarity) for r in exact.collect()} == {
        (r.vec_id, r.dup_of, r.similarity) for r in full.collect()
    }


def test_ivf_filtered_search(spark, tables, tmp_path_factory):
    """Filtered ANN (pgvector's WHERE + ORDER BY embedding combo): the
    predicate applies inside the probed clusters — every hit satisfies it,
    and the scores equal a brute-force scan of the filtered corpus."""
    from ocr_vector_db_spark.operators.knn import knn_brute_force

    emb = tables["embeddings"]
    path = str(tmp_path_factory.mktemp("ivf_f"))
    idx = IVFIndex.build(spark, emb, path, num_clusters=3)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).head().embedding]
    target = emb.filter(F.col("vec_id") == 3).head().label

    hits = idx.search(qv, k=5, nprobe=3, where=F.col("label") == target).collect()
    assert hits and all(r.label == target for r in hits)
    # nprobe = num_clusters ⇒ no pruning loss: exact top-k of the filtered set
    exact = knn_brute_force(
        emb.filter(F.col("label") == target), qv, 5
    ).collect()
    assert [r.vec_id for r in hits] == [r.vec_id for r in exact]
    # selective filter on a pruned probe may under-fill k — documented
    sparse = idx.search(qv, k=5, nprobe=1, where=F.col("label") == target)
    assert sparse.count() <= 5


def test_char_budget_batching():
    items = ["a" * 30, "b" * 30, "c" * 30, "d" * 100, "e"]
    batches = list(ep.iter_by_char_budget(items, char_budget=70, max_batch_size=10))
    assert [len(b) for b in batches] == [2, 1, 1, 1]
    assert all(sum(len(x) for x in b) <= 70 or len(b) == 1 for b in batches)
    # item cap
    batches = list(ep.iter_by_char_budget(items, char_budget=0, max_batch_size=2))
    assert [len(b) for b in batches] == [2, 2, 1]


def test_retry_backoff_semantics():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ep.RateLimitError("rate limit exceeded")
        return "ok"

    assert ep.call_with_retry(flaky, sleep=sleeps.append) == "ok"
    assert calls["n"] == 3
    assert sleeps == [20.0 * 1.5, 20.0 * 1.5**2]  # ×1.5 backoff from base 20

    def fatal():
        raise ValueError("schema mismatch")

    with pytest.raises(ValueError):
        ep.call_with_retry(fatal, sleep=sleeps.append)  # non-rate-limit: immediate


def test_embed_with_provider(spark):
    df = spark.createDataFrame(
        [(i, f"text number {i} with enough content") for i in range(10)],
        ["id", "content"],
    )
    t0 = time.time()
    out = ep.embed_with_provider(
        df,
        lambda: ep.DeterministicProvider(dim=8),
        batch_size=4,
        max_parallel_tasks=2,
    )
    rows = out.collect()
    assert len(rows) == 10 and all(len(r.embedding) == 8 for r in rows)
    # deterministic provider ≡ direct embed
    from ocr_vector_db_spark.functions.vector import embed_text

    by_id = {r.id: r for r in rows}
    assert by_id[0].embedding == embed_text("text number 0 with enough content", 8)
    assert time.time() - t0 < 60
    assert ep.check_dimension(ep.DeterministicProvider(dim=8), 8)
    assert not ep.check_dimension(ep.DeterministicProvider(dim=8), 16)


def test_ivf_incremental_add(spark, tables, tmp_path_factory):
    from pyspark.sql import functions as F2

    emb = tables["embeddings"]
    path = str(tmp_path_factory.mktemp("ivf_add"))
    base = emb.filter(F2.col("vec_id") < 400)
    idx = IVFIndex.build(spark, base, path, num_clusters=4)
    n_before = idx.vectors().count()

    extra = emb.filter(F2.col("vec_id") >= 400)
    added = idx.add(extra)
    assert added == extra.count()
    assert idx.vectors().count() == n_before + added

    # a newly-added vector is findable through the pruned search
    qv = [float(x) for x in emb.filter(F2.col("vec_id") == 450).head().embedding]
    rows = idx.search(qv, k=3, nprobe=4).collect()
    assert rows[0].vec_id == 450 and abs(rows[0].similarity - 1.0) < 1e-6
    # appended rows landed in their assigned cluster partitions
    assert idx.vectors().filter(F2.col("vec_id") == 450).head().cluster_id in {0, 1, 2, 3}


def test_lexical_index_matches_scan_bm25(spark, tables, tmp_path_factory):
    """Indexed BM25 (bucketed postings, the sparse IVFIndex twin) returns
    byte-identical scores and ranking to the per-query corpus scan, and its
    probe is a partition-pruned read of the query terms' buckets only."""
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex
    from ocr_vector_db_spark.operators.retrieval import bm25_topk

    docs = tables["documents"]
    path = str(tmp_path_factory.mktemp("lex"))
    LexicalIndex.build(spark, docs, path, n_buckets=16)
    idx = LexicalIndex.load(spark, path)
    assert idx.n_buckets == 16

    terms = ["distributed", "shuffle", "data"]
    via_index = idx.search(terms, k=10)
    via_scan = bm25_topk(docs, terms, k=10)
    got = [(r.id, r.bm25, r.rank) for r in via_index.collect()]
    want = [(r.id, r.bm25, r.rank) for r in via_scan.collect()]
    assert got == want and len(got) == 10

    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:300]


def _plan_jobs(spark, build):
    """(DataFrame, ids of the Spark jobs started while `build()` returned
    it) — the jobs a search pays before its caller's action."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan")
    try:
        df = build()
    finally:
        sc.setJobGroup("plan-jobs-idle", "idle")
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def test_index_search_plans_start_no_spark_jobs(spark, tables, tmp_path_factory):
    """Lexical, IVF and phrase search build their plans without a Spark
    job: the bucket list folds into the scan's partition filter, the
    postings and vectors are read with the schema of the object's first
    read, and the BM25 stats are driver literals. The caller's action is
    the only work."""
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex
    from ocr_vector_db_spark.operators.phrase_index import PositionalIndex

    docs, emb = tables["documents"], tables["embeddings"]
    lex = LexicalIndex.build(spark, docs, str(tmp_path_factory.mktemp("lexj")),
                             n_buckets=16)
    ivf = IVFIndex.build(spark, emb, str(tmp_path_factory.mktemp("ivfj")),
                         num_clusters=4)
    pos = PositionalIndex.build(
        spark, docs, str(tmp_path_factory.mktemp("posj")), n_buckets=16)
    loaded = LexicalIndex.load(spark, lex.path)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).head().embedding]
    terms = ["distributed", "shuffle", "data"]
    # the first read of each table infers its schema (once per object)
    for idx in (lex, loaded):
        idx.search(terms, k=10).collect()
    ivf.search(qv, k=5, nprobe=2).collect()
    want = pos.phrase_search("distributed data").collect()

    phrase, jobs = _plan_jobs(spark, lambda: pos.phrase_search(
        "distributed data"))
    assert jobs == []
    assert phrase.collect() == want

    for idx in (lex, loaded):
        via_index, jobs = _plan_jobs(spark, lambda: idx.search(terms, k=10))
        assert jobs == []
        plan = via_index._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters: [")[1].split("]")[0]
        assert "bucket" in pf and "xxhash64" not in pf  # folded to literals
    res, jobs = _plan_jobs(spark, lambda: ivf.search(qv, k=5, nprobe=2))
    assert jobs == []
    assert res.collect()[0].vec_id == 3


def test_lexical_index_search_sees_later_adds(spark, tables, tmp_path_factory):
    """An instance that already served a search picks up a later add() —
    made through itself or through a second load()ed instance — on its next
    search: the literal stats follow the committed stats generation."""
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    docs = tables["documents"]
    path = str(tmp_path_factory.mktemp("lex_fresh"))
    idx = LexicalIndex.build(spark, docs.filter(F.col("doc_id") % 2 == 0),
                             path, n_buckets=8)
    terms = ["distributed", "data", "zyzzyva"]

    def results(i):
        return [(r.id, r.bm25, r.rank) for r in i.search(terms, k=10).collect()]

    before = results(idx)
    idx.add(docs.filter(F.col("doc_id") % 2 == 1))
    after_own = results(idx)
    assert after_own != before
    assert after_own == results(LexicalIndex.load(spark, path))

    LexicalIndex.load(spark, path).add(spark.createDataFrame(
        [(10**9 + 3, "zyzzyva distributed data data")],
        "doc_id bigint, text string"))
    after_other = results(idx)
    assert after_other[0][0] == 10**9 + 3
    assert after_other == results(LexicalIndex.load(spark, path))


def test_lexical_index_incremental_add(spark, tables, tmp_path_factory):
    """Build on half the corpus, add() the rest: search ranking matches a
    full build (df is derived at query time so it needs no maintenance;
    stats fold keeps N exact and avgdl within float tolerance)."""
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    docs = tables["documents"]
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    p_inc = str(tmp_path_factory.mktemp("lex_inc"))
    idx = LexicalIndex.build(spark, half_a, p_inc, n_buckets=8)
    added = idx.add(half_b)
    assert added == half_b.count()

    p_full = str(tmp_path_factory.mktemp("lex_full"))
    full = LexicalIndex.build(spark, docs, p_full, n_buckets=8)

    terms = ["distributed", "data"]
    got = [(r.id, r.rank) for r in idx.search(terms, k=10).collect()]
    want = [(r.id, r.rank) for r in full.search(terms, k=10).collect()]
    assert got == want
    # folded stats match the full build's EXACTLY — total_dl folds as an
    # integer, avgdl is one double division of exact ints on both paths
    s_inc = idx.stats().head()
    s_full = full.stats().head()
    assert s_inc["n_docs"] == s_full["n_docs"]
    assert s_inc["avgdl"] == s_full["avgdl"]


def test_lexical_index_add_guards_against_readd(spark, tables, tmp_path_factory):
    """Re-submitting already-indexed docs is a no-op: the anti-join guard
    keeps postings and (N, avgdl) exact instead of double-counting."""
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    docs = tables["documents"]
    path = str(tmp_path_factory.mktemp("lex_guard"))
    idx = LexicalIndex.build(spark, docs, path, n_buckets=8)
    n_docs = docs.count()
    n_postings = idx.postings().count()

    assert idx.add(docs) == 0  # every id already indexed
    assert idx.postings().count() == n_postings
    s = idx.stats().head()
    assert s["n_docs"] == n_docs

    # a mixed batch adds only the genuinely-new rows
    mixed = docs.limit(3).unionByName(
        spark.createDataFrame(
            [(10**9 + 7, "entirely new distributed data text")],
            "doc_id bigint, text string",
        ).select("doc_id", "text"),
        allowMissingColumns=True,
    )
    assert idx.add(mixed) == 1
    assert idx.stats().head()["n_docs"] == n_docs + 1


def test_lexical_index_stats_commit_crash_recovery(spark, tables, tmp_path_factory):
    """Every crash point of the stats generation commit leaves a readable
    committed version, and the next add() folds on top of it correctly."""
    import os

    from ocr_vector_db_spark.operators.index_maint import (
        committed_generations,
    )
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    docs = tables["documents"]
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("lex_crash"))
    idx = LexicalIndex.build(spark, half_a, path, n_buckets=8)
    s0 = idx.stats().head()
    stats_root = os.path.join(path, "stats")
    assert committed_generations(spark, stats_root) == [1]

    # crash point: a dead writer left a half-written, UNCOMMITTED next
    # generation (garbage content) — reads still serve the committed one
    orphan = os.path.join(stats_root, "gen-000002")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    assert LexicalIndex.load(spark, path).n_buckets == 8
    assert idx.stats().head()["n_docs"] == s0["n_docs"]

    # next add() overwrites the orphan as the real gen-2 and commits it
    added = idx.add(half_b)
    assert added == half_b.count()
    assert committed_generations(spark, stats_root) == [1, 2]
    assert idx.stats().head()["n_docs"] == docs.count()

    # a further fold commits gen-3 and GC trims to the newest two
    idx.add(spark.createDataFrame(
        [(10**9 + 11, "one more new doc")], "doc_id bigint, text string"))
    assert committed_generations(spark, stats_root) == [2, 3]
    assert idx.stats().head()["n_docs"] == docs.count() + 1


def test_ivf_add_guards_against_readd(spark, tables, tmp_path_factory):
    """IVFIndex.add parity with LexicalIndex.add: re-submitting indexed
    vectors is a no-op, mixed batches append only the new rows."""
    from pyspark.sql import functions as F2

    from ocr_vector_db_spark.operators.ann_index import IVFIndex

    emb = tables["embeddings"]
    path = str(tmp_path_factory.mktemp("ivf_guard"))
    idx = IVFIndex.build(spark, emb, path, num_clusters=4)
    n = idx.vectors().count()

    assert idx.add(emb) == 0
    assert idx.vectors().count() == n

    new = emb.limit(1).withColumn("vec_id", F2.lit(10**9 + 1).cast("long"))
    mixed = emb.limit(5).unionByName(new)
    assert idx.add(mixed) == 1
    assert idx.vectors().count() == n + 1


def test_minhash_index_screen_matches_scan_formulation(spark, tables, tmp_path_factory):
    """Persisted MinHash screen ≡ the in-memory banding join restricted to
    cross-side pairs — and dedup_new gates exactly the matched batch docs."""
    from ocr_vector_db_spark.operators import dedup
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex

    docs = tables["documents"]
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("mh"))
    idx = MinHashIndex.build(spark, corpus, path, num_hashes=16, bands=4,
                             n=2, n_buckets=8)
    idx2 = MinHashIndex.load(spark, path)
    assert (idx2.num_hashes, idx2.bands, idx2.n, idx2.n_buckets) == (16, 4, 2, 8)

    got = {(r.new_id, r.corpus_id, r.est_jaccard)
           for r in idx2.screen(batch).collect()}
    # scan formulation over the union, cross-side pairs only
    allp = dedup.minhash_lsh_candidates(docs, 16, 4, 2).collect()
    want = set()
    for r in allp:
        a, b = r.doc_a, r.doc_b
        if a % 2 != b % 2:  # one side new, one side indexed
            new, corp = (a, b) if a % 2 == 1 else (b, a)
            want.add((new, corp, r.est_jaccard))
    assert got == want

    # the ingestion gate drops exactly the batch docs with a strong match
    thr = 0.5
    dup_ids = {n for n, _, j in got if j >= thr}
    kept = {r.doc_id for r in idx2.dedup_new(batch, threshold=thr).collect()}
    assert kept == {r.doc_id for r in batch.collect()} - dup_ids


def test_minhash_index_add_guard_and_growth(spark, tables, tmp_path_factory):
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex

    docs = tables["documents"]
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("mh_add"))
    idx = MinHashIndex.build(spark, half_a, path, num_hashes=16, bands=4,
                             n=2, n_buckets=8)
    n0 = idx.signatures().count()

    assert idx.add(half_a) == 0  # re-add guard
    assert idx.signatures().count() == n0
    added = idx.add(half_b)
    assert added == half_b.count()
    assert idx.signatures().count() == n0 + added
    # after accepting the batch, an identical batch fully screens out
    assert idx.dedup_new(half_b, threshold=0.99).count() == 0


def test_lexical_index_add_migrates_pre_total_dl_stats(spark, tables, tmp_path_factory):
    """Indexes persisted before the exact-integer stats fold (no total_dl
    column) must still accept add(): the fold reconstructs the total from
    avgdl*n and the commit upgrades the schema."""
    import os

    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    docs = tables["documents"]
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("lex_legacy"))
    LexicalIndex.build(spark, half_a, path, n_buckets=8)

    # rewrite stats in the pre-round-5 3-column schema, as a pre-generation
    # FLAT layout (such an index predates the generation pointers too) —
    # this also exercises the legacy-flat read fallback
    import shutil

    from ocr_vector_db_spark.operators.index_maint import current_gen_dir
    from ocr_vector_db_spark.operators.lexical_index import _read_stats

    legacy = _read_stats(spark, path).select(
        "n_docs", "avgdl", "n_buckets"
    ).collect()[0]
    shutil.rmtree(os.path.join(path, "stats"))
    spark.createDataFrame([tuple(legacy)],
                          "n_docs bigint, avgdl double, n_buckets int"
                          ).write.mode("overwrite").parquet(
        os.path.join(path, "stats"))

    idx = LexicalIndex.load(spark, path)
    assert idx.add(half_b) == half_b.count()
    s = idx.stats().head()
    assert s["n_docs"] == docs.count()
    # schema upgraded: total_dl present and consistent, committed as gen-1
    upgraded = spark.read.parquet(
        current_gen_dir(spark, os.path.join(path, "stats"))
    ).head()
    assert int(upgraded["total_dl"]) > 0


def test_index_compaction_bounds_files_and_preserves_results(spark, tables, tmp_path_factory):
    """After several incremental adds the partitioned layouts fragment into
    one file per (add, partition); compact() collapses each partition dir
    to one file and search results are unchanged."""
    from ocr_vector_db_spark.operators.index_maint import parquet_file_count
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    docs = tables["documents"]
    path = str(tmp_path_factory.mktemp("lex_compact"))
    idx = LexicalIndex.build(
        spark, docs.filter(F.col("doc_id") % 4 == 0), path, n_buckets=8)
    for m in (1, 2, 3):
        idx.add(docs.filter(F.col("doc_id") % 4 == m))

    terms = ["distributed", "data"]
    before = [(r.id, r.bm25, r.rank) for r in idx.search(terms, k=10).collect()]
    postings = f"{path}/postings"
    frag_files = parquet_file_count(postings)
    n_rows = idx.postings().count()

    assert idx.compact() == n_rows
    assert parquet_file_count(postings) <= 8 < frag_files
    after = [(r.id, r.bm25, r.rank) for r in idx.search(terms, k=10).collect()]
    assert after == before


def test_minhash_and_ivf_compaction(spark, tables, tmp_path_factory):
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.index_maint import parquet_file_count
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex

    docs = tables["documents"]
    emb = tables["embeddings"]

    mh_path = str(tmp_path_factory.mktemp("mh_compact"))
    mh = MinHashIndex.build(spark, docs.filter(F.col("doc_id") % 2 == 0),
                            mh_path, 16, 4, 2, 8)
    mh.add(docs.filter(F.col("doc_id") % 2 == 1))
    n_sigs = mh.signatures().count()
    assert mh.compact() == n_sigs
    assert parquet_file_count(f"{mh_path}/bands") <= 8
    assert mh.signatures().count() == n_sigs

    ivf_path = str(tmp_path_factory.mktemp("ivf_compact"))
    ivf = IVFIndex.build(spark, emb.filter(F.col("vec_id") < 400), ivf_path,
                         num_clusters=4)
    ivf.add(emb.filter(F.col("vec_id") >= 400))
    n_vecs = ivf.vectors().count()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 450).head().embedding]
    before = [r.vec_id for r in ivf.search(qv, k=5, nprobe=4).collect()]
    assert ivf.compact() == n_vecs
    assert parquet_file_count(f"{ivf_path}/vectors") <= 4
    assert [r.vec_id for r in ivf.search(qv, k=5, nprobe=4).collect()] == before


def _compact_crash_points(spark, path, partition_col=None, num_partitions=1):
    """Run a compaction (`PersistedIndex._rewrite`) step by step, yielding
    a label after every crash point, so a test can assert reads stay
    correct at each one: (a) new generation fully written but
    uncommitted, (b) marker committed but GC not yet run, (c) GC done."""
    from ocr_vector_db_spark.operators.index_maint import (
        commit_generation,
        current_gen_dir,
        gc_generations,
        next_gen_dir,
    )

    src = current_gen_dir(spark, path)
    df = spark.read.parquet(src)
    n_gen, dest = next_gen_dir(spark, path)
    if partition_col is not None:
        df.repartition(num_partitions, partition_col).write.mode(
            "overwrite").partitionBy(partition_col).parquet(dest)
    else:
        df.coalesce(num_partitions).write.mode("overwrite").parquet(dest)
    yield "uncommitted"
    commit_generation(spark, path, n_gen)
    yield "committed"
    gc_generations(spark, path)
    yield "gced"


def test_compaction_reader_atomic_all_indexes(spark, tables, tmp_path_factory):
    """Generation-pointer swap: at EVERY crash point of a compaction —
    new gen written but unpublished / marker committed / GC done — reads
    of all three persisted indexes serve the exact same results. There is
    no window in which a reader can observe a missing or partial layout."""
    import os

    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex

    docs, emb = tables["documents"], tables["embeddings"]

    # lexical
    lex_path = str(tmp_path_factory.mktemp("lex_atomic"))
    lex = LexicalIndex.build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), lex_path, n_buckets=8)
    lex.add(docs.filter(F.col("doc_id") % 2 == 1))
    terms = ["distributed", "data"]
    want = [(r.id, r.bm25, r.rank) for r in lex.search(terms, k=10).collect()]
    for step in _compact_crash_points(
            spark, os.path.join(lex_path, "postings"), "bucket", 8):
        got = [(r.id, r.bm25, r.rank) for r in lex.search(terms, k=10).collect()]
        assert got == want, f"lexical search drifted at crash point {step}"

    # IVF
    ivf_path = str(tmp_path_factory.mktemp("ivf_atomic"))
    ivf = IVFIndex.build(spark, emb.filter(F.col("vec_id") < 400), ivf_path,
                         num_clusters=4)
    ivf.add(emb.filter(F.col("vec_id") >= 400))
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 450).head().embedding]
    want_ivf = [r.vec_id for r in ivf.search(qv, k=5, nprobe=4).collect()]
    for step in _compact_crash_points(
            spark, os.path.join(ivf_path, "vectors"), "cluster_id", 4):
        got = [r.vec_id for r in ivf.search(qv, k=5, nprobe=4).collect()]
        assert got == want_ivf, f"IVF search drifted at crash point {step}"

    # MinHash (two tables: partitioned bands + plain signatures)
    mh_path = str(tmp_path_factory.mktemp("mh_atomic"))
    mh = MinHashIndex.build(spark, docs.filter(F.col("doc_id") % 2 == 0),
                            mh_path, 16, 4, 2, 8)
    mh.add(docs.filter(F.col("doc_id") % 2 == 1))
    probe = docs.filter(F.col("doc_id") % 7 == 0).limit(20)
    want_mh = {(r.new_id, r.corpus_id) for r in mh.screen(probe, 0.5).collect()}
    for table, pcol, n in (("bands", "bucket", 8), ("signatures", None, 2)):
        for step in _compact_crash_points(
                spark, os.path.join(mh_path, table), pcol, n):
            got = {(r.new_id, r.corpus_id)
                   for r in mh.screen(probe, 0.5).collect()}
            assert got == want_mh, \
                f"MinHash screen drifted at {table} crash point {step}"


def test_compact_crash_recovery_orphan_generation(spark, tables, tmp_path_factory):
    """A compaction that died before publishing its marker leaves an orphan
    generation dir: reads keep serving the live generation, and the next
    compact() overwrites the orphan, commits, and GCs — no manual repair."""
    import os

    from ocr_vector_db_spark.operators.index_maint import (
        committed_generations,
        current_gen_dir,
    )
    from ocr_vector_db_spark.operators.lexical_index import LexicalIndex

    docs = tables["documents"]
    path = str(tmp_path_factory.mktemp("lex_gencrash"))
    idx = LexicalIndex.build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), path, n_buckets=8)
    idx.add(docs.filter(F.col("doc_id") % 2 == 1))
    terms = ["distributed", "data"]
    before = [(r.id, r.bm25) for r in idx.search(terms, k=10).collect()]

    # simulate the crash: half-written next generation, never committed
    postings = os.path.join(path, "postings")
    orphan = os.path.join(postings, "gen-000002")
    idx.postings().limit(3).write.mode("overwrite").parquet(orphan)
    assert current_gen_dir(spark, postings).endswith("gen-000001")
    assert [(r.id, r.bm25) for r in idx.search(terms, k=10).collect()] == before

    n = idx.compact()  # overwrites the orphan as the real gen-2, commits
    assert n > 0
    assert committed_generations(spark, postings) == [1, 2]
    assert [(r.id, r.bm25) for r in idx.search(terms, k=10).collect()] == before


def test_simhash_index_screen_matches_scan_formulation(spark, tables,
                                                       tmp_path_factory):
    """Persisted SimHash screen ≡ the one-shot scan formulation restricted
    to cross-side pairs, exactly; the band join is bucket-pruned and the
    radius guarantee holds (every scan pair within r appears)."""
    from ocr_vector_db_spark.operators import dedup
    from ocr_vector_db_spark.operators.simhash_index import SimHashIndex

    docs = tables["documents"]
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path_factory.mktemp("shidx"))
    idx = SimHashIndex.build(spark, evens, path, bits=16, r=2, n_buckets=16)
    idx = SimHashIndex.load(spark, path)
    assert (idx.bits, idx.r, idx.n_buckets) == (16, 2, 16)

    got = {(r_.new_id, r_.corpus_id, r_.hamming)
           for r_ in idx.screen(odds).collect()}
    scan = dedup.simhash_near_dup_pairs(docs, bits=16, r=2)
    want = {
        (max(r_.doc_a, r_.doc_b), min(r_.doc_a, r_.doc_b), r_.hamming)
        for r_ in scan.collect()
        if (r_.doc_a % 2) != (r_.doc_b % 2)
    }
    want = {(a if a % 2 else b, b if a % 2 else a, h)
            for a, b, h in want}
    assert got == want


def test_simhash_index_add_guard_compact_and_gate(spark, tables,
                                                  tmp_path_factory):
    """Incremental build(A)+add(B) screens identically to build(A∪B);
    re-adds are no-ops; compaction changes nothing; dedup_new drops
    exactly the screened ids."""
    from ocr_vector_db_spark.operators.simhash_index import SimHashIndex

    docs = tables["documents"]
    a = docs.filter(F.col("doc_id") % 4 == 0)
    b = docs.filter(F.col("doc_id") % 4 == 2)
    odds = docs.filter(F.col("doc_id") % 2 == 1)

    p_inc = str(tmp_path_factory.mktemp("sh_inc"))
    inc = SimHashIndex.build(spark, a, p_inc, bits=16, r=2, n_buckets=8)
    assert inc.add(b) == b.count()
    assert inc.add(b) == 0  # re-add guard

    p_full = str(tmp_path_factory.mktemp("sh_full"))
    full = SimHashIndex.build(
        spark, docs.filter(F.col("doc_id") % 2 == 0), p_full,
        bits=16, r=2, n_buckets=8,
    )
    key = lambda df: {(r.new_id, r.corpus_id, r.hamming)
                      for r in df.collect()}
    want = key(full.screen(odds))
    assert key(inc.screen(odds)) == want
    inc.compact()
    assert key(inc.screen(odds)) == want

    flagged = {r.new_id for r in inc.screen(odds).collect()}
    kept = {r.doc_id for r in inc.dedup_new(odds).collect()}
    assert kept == {r.doc_id for r in odds.collect()} - flagged


def test_positional_index_phrase_semantics_and_incremental(spark, tmp_path):
    from ocr_vector_db_spark.operators.phrase_index import PositionalIndex

    docs = spark.createDataFrame(
        [
            (1, "new york is not york new"),
            (2, "a a a b"),                    # overlapping self-hits
            (3, "the new york new york times"),
            (4, "nothing relevant here"),
        ],
        ["doc_id", "text"],
    )
    idx = PositionalIndex.build(
        spark, docs.filter(F.col("doc_id") % 2 == 0),
        str(tmp_path / "p"), n_buckets=8,
    )
    assert idx.add(docs.filter(F.col("doc_id") % 2 == 1)) == 2
    assert idx.add(docs) == 0  # re-add guard: everything already indexed

    got = {r.id: r for r in idx.phrase_search("new york").collect()}
    assert set(got) == {1, 3}
    assert (got[1].n_hits, got[1].first_pos) == (1, 0)   # not "york new"
    assert (got[3].n_hits, got[3].first_pos) == (2, 1)
    assert got[3].rank == 1 and got[1].rank == 2          # by hits desc

    # overlapping occurrences: "a a" in "a a a" hits at 0 AND 1
    r2 = idx.phrase_search("a a").collect()
    assert len(r2) == 1 and r2[0].id == 2 and r2[0].n_hits == 2

    # single-term phrase degenerates to per-doc occurrence count
    r1 = {r.id: r.n_hits for r in idx.phrase_search("york", k=10).collect()}
    assert r1 == {1: 2, 3: 2}

    # absent term → empty result, not an error
    assert idx.phrase_search("zzzqqq never").count() == 0

    # incremental build ≡ one-shot build, bit for bit
    full = PositionalIndex.build(spark, docs, str(tmp_path / "f"),
                                 n_buckets=8)
    assert sorted(map(tuple, idx.phrase_search("new york").collect())) == \
        sorted(map(tuple, full.phrase_search("new york").collect()))

    # the phrase scan is partition-pruned to the phrase's term buckets
    idx.compact()
    plan = idx.phrase_search("new york")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
    )
    import re
    pf = [m for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)]
    assert pf and all("bucket" in f for f in pf if f.strip())
