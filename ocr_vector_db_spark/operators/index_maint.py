"""Maintenance shared by the persisted indexes (lexical / IVF / MinHash).

Every incremental `add()` appends files into the partitioned layouts, so a
long-lived index accumulates one small parquet file per (add, partition) —
the classic small-files problem. `compact_partitioned` is the OPTIMIZE
analogue (EntityStore.compact for partitioned index layouts): rewrite the
table hash-repartitioned BY its partition column, so each partition
directory collapses to one file.

Publication is READER-ATOMIC via generation pointers (the Iceberg/Delta
snapshot idea reduced to its minimum): a table path holds generation
directories `gen-000001/, gen-000002/, …` plus zero-byte commit markers
`gen-000001.committed`. Readers resolve the highest marker whose data dir
exists and read that directory; writers build the NEXT generation off to
the side and publish it with a single atomic marker create. There is no
rename of live data, hence no crash point at which a reader can observe a
missing or half-swapped path — a reader sees either generation N or N+1,
both complete. GC keeps the newest two generations so a reader that
resolved N just before the N+1 commit can still finish its scan; the
N-1 data is removed only then. Crash before the marker leaves an orphan
gen dir that the next compaction simply overwrites.

A path with data files but no committed generation is a legacy flat
layout and resolves to itself, so pre-generation indexes stay readable;
their first compaction migrates them into `gen-000001`.

All filesystem operations go through the Hadoop FileSystem API
(local/HDFS; on object stores the single marker create is still the
commit point). Single-writer contract, same as the indexes' add().
"""

from __future__ import annotations

import posixpath
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_GEN_DIR_RE = re.compile(r"gen-(\d{6})$")
_GEN_MARK_RE = re.compile(r"gen-(\d{6})\.committed$")


def _gen_name(n: int) -> str:
    return f"gen-{n:06d}"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    return hpath, hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def committed_generations(spark: SparkSession, path: str) -> list[int]:
    """Sorted generation numbers that have BOTH a commit marker and their
    data directory present under `path`."""
    hpath, fs = _fs(spark, path)
    if not fs.exists(hpath(path)):
        return []
    names = {st.getPath().getName() for st in fs.listStatus(hpath(path))}
    out = []
    for name in names:
        m = _GEN_MARK_RE.fullmatch(name)
        if m and _gen_name(int(m.group(1))) in names:
            out.append(int(m.group(1)))
    return sorted(out)


def current_gen_dir(spark: SparkSession, path: str) -> str:
    """The readable data directory: latest committed generation, or `path`
    itself for a legacy flat layout (no committed generations)."""
    gens = committed_generations(spark, path)
    return posixpath.join(path, _gen_name(gens[-1])) if gens else path


def read_generation(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """The current generation of the parquet table at `path`. Passing the
    table's `schema` (an earlier read's `.schema`) skips parquet schema
    inference, which is a Spark job of its own; add() and compact() never
    change a table's schema, so the indexes infer it once per object."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(current_gen_dir(spark, path))


def next_gen_dir(spark: SparkSession, path: str) -> tuple[int, str]:
    gens = committed_generations(spark, path)
    n = (gens[-1] if gens else 0) + 1
    return n, posixpath.join(path, _gen_name(n))


def commit_generation(spark: SparkSession, path: str, n: int) -> None:
    """Publish generation `n` with a single atomic marker create — the
    commit point of every build/compaction. Readers resolving before this
    call see the previous generation; after it, the new one."""
    hpath, fs = _fs(spark, path)
    out = fs.create(hpath(posixpath.join(path, _gen_name(n) + ".committed")),
                    True)
    out.close()


def init_generation(spark: SparkSession, path: str) -> tuple[int, str]:
    """Fresh-build target: clears any previous layout at `path` and returns
    (1, gen-000001 dir). The caller writes data there, then calls
    `commit_generation(spark, path, 1)`."""
    hpath, fs = _fs(spark, path)
    if fs.exists(hpath(path)) and not fs.delete(hpath(path), True):
        raise IOError(f"clearing {path} for rebuild failed")
    return 1, posixpath.join(path, _gen_name(1))


def gc_generations(spark: SparkSession, path: str, keep: int = 2) -> None:
    """Remove superseded layouts: all but the newest `keep` committed
    generations (markers + data), and — once at least `keep` generations
    exist — any legacy flat data left directly under `path`. Never touches
    the newest generation or an uncommitted (in-flight) gen dir newer than
    the latest commit."""
    gens = committed_generations(spark, path)
    if not gens:
        return
    hpath, fs = _fs(spark, path)
    drop = set(gens[:-keep]) if len(gens) > keep else set()
    latest = gens[-1]
    for st in fs.listStatus(hpath(path)):
        name = st.getPath().getName()
        md, mm = _GEN_DIR_RE.fullmatch(name), _GEN_MARK_RE.fullmatch(name)
        if md or mm:
            n = int((md or mm).group(1))
            # uncommitted orphans OLDER than the live gen are dead weight;
            # a NEWER uncommitted dir is a compaction in flight — keep it
            if n in drop or (md and n not in gens and n < latest):
                if not fs.delete(st.getPath(), True):
                    raise IOError(f"GC delete of {name} under {path} failed")
        elif len(gens) >= keep:
            # legacy flat layout remnants (part files / partition dirs /
            # _SUCCESS), at least `keep` compactions old by construction
            if not fs.delete(st.getPath(), True):
                raise IOError(f"GC delete of flat {name} under {path} failed")


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    num_partitions: int,
) -> int:
    """Rewrite a partitioned parquet table so each partition directory holds
    ONE file (hash repartition by the partition column guarantees every
    partition value lands in exactly one task), published as a new
    generation. Returns the row count (materialized pre-commit, so a failed
    rewrite leaves the previous generation live)."""
    df = read_generation(spark, path).repartition(num_partitions, partition_col)
    n_gen, dest = next_gen_dir(spark, path)
    df.write.mode("overwrite").partitionBy(partition_col).parquet(dest)
    n = spark.read.parquet(dest).count()
    commit_generation(spark, path, n_gen)
    gc_generations(spark, path)
    return n


def compact_plain(spark: SparkSession, path: str, num_files: int = 1) -> int:
    """Rewrite an unpartitioned parquet table at `num_files` granularity,
    published as a new generation."""
    df = read_generation(spark, path).coalesce(num_files)
    n_gen, dest = next_gen_dir(spark, path)
    df.write.mode("overwrite").parquet(dest)
    n = spark.read.parquet(dest).count()
    commit_generation(spark, path, n_gen)
    gc_generations(spark, path)
    return n


def write_small_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Write a small metadata file (index meta/centroids) through the
    Hadoop FileSystem API so the index layouts stay local/HDFS-portable —
    a plain open() would silently pin the index to the local filesystem."""
    hpath, fs = _fs(spark, path)
    out = fs.create(hpath(path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — the portable
    preflight for index layouts (an os.path check would report False for
    every valid index on HDFS/object stores)."""
    hpath, fs = _fs(spark, path)
    return bool(fs.exists(hpath(path)))


def read_small_file(spark: SparkSession, path: str) -> bytes:
    hpath, fs = _fs(spark, path)
    inp = fs.open(hpath(path))
    try:
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
        )
    finally:
        inp.close()


class EpochLedger:
    """Replay-safety bookkeeping for streaming index ingestion.

    The indexes' add() re-add guard anti-joins each batch against the FULL
    stored id set — at a 10⁹-doc corpus that is a billion-row distinct per
    micro-batch paid solely for replay safety. This ledger moves replay
    safety to two zero-byte marker files per epoch (atomic creates, same
    primitive as the generation pointers), so the steady-state add can run
    `assume_new=True` with no corpus-sized read at all:

      epoch ≤ committed()                → replayed epoch: skip entirely;
      committed() < epoch ≤ started()    → a prior attempt died between
                                           mark_started and mark_committed,
                                           so the index MAY hold part of
                                           this batch: run the guarded
                                           (anti-join) add for THIS batch
                                           only — the expensive path is
                                           paid only on crash replay;
      epoch > started()                  → first attempt: mark_started,
                                           add(assume_new=True),
                                           mark_committed.

    Marker layout: `{path}/started-{n:012d}` / `{path}/committed-{n:012d}`;
    readers take the max of each kind, commit GCs older markers. Epoch ids
    must be monotone per ledger (Structured Streaming's batchId under a
    checkpoint is). Single-writer contract, like the indexes."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _names(self) -> set[str]:
        hpath, fs = _fs(self.spark, self.path)
        if not fs.exists(hpath(self.path)):
            return set()
        return {st.getPath().getName() for st in fs.listStatus(hpath(self.path))}

    def _max_of(self, kind: str) -> int:
        pat = re.compile(rf"{kind}-(\d{{12}})$")
        ns = [int(m.group(1)) for m in map(pat.fullmatch, self._names()) if m]
        return max(ns) if ns else -1

    def started(self) -> int:
        return self._max_of("started")

    def committed(self) -> int:
        return self._max_of("committed")

    def _touch(self, name: str) -> None:
        hpath, fs = _fs(self.spark, self.path)
        out = fs.create(hpath(posixpath.join(self.path, name)), True)
        out.close()

    def mark_started(self, epoch: int) -> None:
        self._touch(f"started-{epoch:012d}")

    def mark_committed(self, epoch: int) -> None:
        self._touch(f"committed-{epoch:012d}")
        # GC every marker older than this epoch (both kinds)
        hpath, fs = _fs(self.spark, self.path)
        pat = re.compile(r"(?:started|committed)-(\d{12})$")
        for name in self._names():
            m = pat.fullmatch(name)
            if m and int(m.group(1)) < epoch:
                fs.delete(hpath(posixpath.join(self.path, name)), False)


def parquet_file_count(path: str, spark: SparkSession | None = None) -> int:
    """Number of data files in the LIVE layout of a (possibly generational,
    possibly partitioned) parquet table — the stat behind maintenance
    triggers like `stream_ingest_deduped(compact_max_files=...)`.

    Goes through the Hadoop FileSystem API like every other index-layout
    operation, so the trigger works on HDFS/object stores, not just local
    disk (the round-6 straggler). `spark` defaults to the active session;
    with none, it raises."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "parquet_file_count needs a SparkSession: pass `spark` or "
            "call it while a session is active"
        )
    hpath, fs = _fs(spark, path)
    if not fs.exists(hpath(path)):
        return 0
    root = current_gen_dir(spark, path)
    it = fs.listFiles(hpath(root), True)  # recursive
    total = 0
    while it.hasNext():
        name = it.next().getPath().getName()
        if name.endswith(".parquet") and not name.startswith("."):
            total += 1
    return total
