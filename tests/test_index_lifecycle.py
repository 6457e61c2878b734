"""The persisted-index lifecycle shared through `index_maint`: one place
calls the generation primitives and the Hadoop FileSystem, a rebuild
keeps nothing of the index it replaces, and a build that dies midway
leaves an index `load()` refuses."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "ocr_vector_db_spark"


def test_generation_lifecycle_lives_in_index_maint():
    """The generation primitives are called, and the empty-layout error
    conditions named, only in operators/index_maint.py — an index that
    needs them goes through `publish`, `read_or_none` or `PersistedIndex`."""
    call = re.compile(
        r"\b(init_generation|next_gen_dir|commit_generation|gc_generations)\s*\("
    )
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "index_maint.py":
            continue
        text = path.read_text()
        rel = path.relative_to(PACKAGE)
        offenders += [f"{rel}: {m.group(1)}" for m in call.finditer(text)]
        if "PATH_NOT_FOUND" in text:
            offenders.append(f"{rel}: PATH_NOT_FOUND")
    assert offenders == []


def test_filesystem_writes_live_in_index_maint():
    """No module but operators/index_maint.py opens a Hadoop FileSystem,
    renames or deletes through one: a store that needs to commit, swap
    or clean up goes through `publish`, `append` or `PersistedIndex`."""
    call = re.compile(r"getFileSystem\(|\.rename\(|\bfs\.delete\(")
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "index_maint.py":
            continue
        rel = path.relative_to(PACKAGE)
        offenders += [f"{rel}: {m.group(0)}"
                      for m in call.finditer(path.read_text())]
    assert offenders == []


def test_entity_store_commits_through_index_maint():
    """storage.py has no commit path of its own: no rename swap, no
    rmtree, no local-only file access, no schema sidecars."""
    text = (PACKAGE / "storage.py").read_text()
    banned = ("shutil", "os.rename", "open(", "os.path.exists", ".schema.json",
              "_swap", "overwrite_document")
    assert [b for b in banned if b in text] == []


def test_rebuild_at_used_path_drops_old_sidecars(spark, tables, tmp_path):
    """A flat rebuild over a hierarchical, standardized index loads as a
    flat, raw-space index: hier.json and standardize.json of the old build
    are gone with the rest of its layout."""
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.ivfpq import IVFPQIndex

    emb = tables["embeddings"]
    path = str(tmp_path / "ivf")
    IVFIndex.build(spark, emb, path, num_clusters=8, l1_branches=2,
                   standardize=True)
    IVFIndex.build(spark, emb, path, num_clusters=4)
    idx = IVFIndex.load(spark, path)
    assert len(idx.centroids) == 4
    assert (idx.l1, idx.l2_to_l1, idx.std_stats) == ([], [], [])
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).head().embedding]
    assert idx.search(qv, k=1, nprobe=4).head().vec_id == 3

    dim = len(emb.head().embedding)
    pq_path = str(tmp_path / "ivfpq")
    IVFPQIndex.build(spark, emb, pq_path, dim=dim, num_clusters=4, m=4, k=8,
                     l1_branches=2)
    IVFPQIndex.build(spark, emb, pq_path, dim=dim, num_clusters=4, m=4, k=8)
    assert IVFPQIndex.load(spark, pq_path).l1 == []


def test_rebuild_crash_midway_leaves_no_loadable_index(spark, tables, tmp_path,
                                                      monkeypatch):
    """A rebuild that dies after its first table write leaves no gate file:
    load() raises instead of pairing the old parameters with new tables."""
    from ocr_vector_db_spark.operators import ann_index
    from ocr_vector_db_spark.operators.ann_index import IVFIndex
    from ocr_vector_db_spark.operators.minhash_index import MinHashIndex

    docs = tables["documents"]
    path = str(tmp_path / "mh")
    MinHashIndex.build(spark, docs, path, 16, 4, 2, 8)
    writes = []
    real_write = MinHashIndex._write

    def dying_write(self, name, *args, **kwargs):
        writes.append(name)
        if len(writes) == 2:
            raise RuntimeError("writer died")
        return real_write(self, name, *args, **kwargs)

    monkeypatch.setattr(MinHashIndex, "_write", dying_write)
    with pytest.raises(RuntimeError, match="writer died"):
        MinHashIndex.build(spark, docs.limit(5), path, 8, 4, 2, 4)
    monkeypatch.undo()
    assert writes == ["bands", "signatures"]
    with pytest.raises(Exception, match="meta.json"):
        MinHashIndex.load(spark, path)

    # IVF gates on centroids.json: a build dying on its standardize
    # profile must not leave centroids that serve standardized vectors as
    # raw ones
    emb = tables["embeddings"]
    ivf_path = str(tmp_path / "ivf")
    IVFIndex.build(spark, emb, ivf_path, num_clusters=4)
    real_small = ann_index.write_small_file

    def dying_small(spark_, p, data):
        if p.endswith("standardize.json"):
            raise RuntimeError("writer died")
        return real_small(spark_, p, data)

    monkeypatch.setattr(ann_index, "write_small_file", dying_small)
    with pytest.raises(RuntimeError, match="writer died"):
        IVFIndex.build(spark, emb, ivf_path, num_clusters=4, standardize=True)
    monkeypatch.undo()
    with pytest.raises(Exception, match="centroids.json"):
        IVFIndex.load(spark, ivf_path)
