"""The persistence lifecycle shared by every persisted index: generation
publish, empty-layout reads, build commit point, compaction.

Generations. A table path holds generation directories `gen-000001/,
gen-000002/, …` plus zero-byte commit markers `gen-000001.committed`.
Readers resolve the highest marker whose data dir exists and read that
directory (the Iceberg/Delta snapshot idea reduced to its minimum).
`publish` is the one writer: it writes the NEXT generation off to the
side (the first one, after clearing the path, with `first=True`),
commits it with a single atomic marker create, then GCs. There is no
rename of live data, so a reader sees generation N or N+1, both
complete. GC keeps the newest two generations, so a reader that resolved
N just before the N+1 commit can still finish its scan. A crash before
the marker leaves an orphan gen dir that the next publish overwrites.
Every rewrite goes through `publish`: compaction, the 1-row stats
tables, the KB-sized sketch tables, DriftBaseline's and BPETokenizer's
two-subdir states (a writer callable fills the dir), the running sample.
`append` is the one appender: it writes rows INTO the live generation.

A path with data files but no committed generation is a legacy flat
layout and resolves to itself, so pre-generation indexes stay readable;
their first compaction (or `append`) migrates them into `gen-000001`.
A flat read skips `gen-*` entries (a migration that died before its
marker), and `append` deletes them before it migrates.

Two stores use `publish`/`append` directly instead of `PersistedIndex`:
the entity tables (`storage.py`) and the streaming gates' exact-key
store (`streaming/assets.py:ExactFrameStore`, one `(__xkey, epoch)`
table rooted at the store path; a pre-generation store's `epoch=N/`
dirs are its legacy flat layout).

`PersistedIndex` is the base of the indexes built from those tables:
  build    `_start_build` clears the index root ONCE (tables and sidecar
           files alike: a rebuild at a used path keeps nothing of the old
           index), each table is published as its generation 1, and
           `_finish_build` writes the file `load()` gates on LAST
           (`meta.json`, or the class's `GATE`). A build that dies midway
           leaves no gate file, so `load()` raises instead of pairing new
           tables with old parameters.
  load     `meta.json` holds the constructor parameters named in `META`.
  add      appends INTO the live generation of each table (`_write`),
           after the `assume_new` re-add guard (`_unindexed`).
  read     `_read` reads a table's live generation with the schema of the
           first read of that generation dir, so a serving plan starts no
           schema-inference job; a layout without data files (an empty
           build's partitionBy write leaves none) reads as the typed empty
           frame the caller names. `read_or_none` is the only tolerance:
           PATH_NOT_FOUND and UNABLE_TO_INFER_SCHEMA, nothing else (an
           empty table silently disables a dedup gate, which is far worse
           than a crash).
  compact  rewrites each table `_compaction` declares — hash-repartitioned
           by its partition column so each partition dir holds ONE file,
           or coalesced — as a new generation (the OPTIMIZE analogue).
Multi-table indexes commit each table's generation separately; their
crash windows are argued per index (append order, reader-side dedup).

All filesystem operations go through the Hadoop FileSystem API
(local/HDFS; on object stores the single marker create is still the
commit point). Single-writer contract, same as the indexes' add().
"""

from __future__ import annotations

import json
import posixpath
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_GEN_DIR_RE = re.compile(r"gen-(\d{6})$")
_GEN_MARK_RE = re.compile(r"gen-(\d{6})\.committed$")
# the only read failures that mean "this layout holds no data files"
_NO_FILES = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _gen_name(n: int) -> str:
    return f"gen-{n:06d}"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    return hpath, hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def list_names(spark: SparkSession, path: str) -> set[str]:
    """Names of the entries directly under `path` (empty when `path` does
    not exist) — one FileSystem listing, no Spark job."""
    hpath, fs = _fs(spark, path)
    if not fs.exists(hpath(path)):
        return set()
    return {st.getPath().getName() for st in fs.listStatus(hpath(path))}


def _committed(names: set[str]) -> list[int]:
    out = []
    for name in names:
        m = _GEN_MARK_RE.fullmatch(name)
        if m and _gen_name(int(m.group(1))) in names:
            out.append(int(m.group(1)))
    return sorted(out)


def _gen_entries(names: set[str]) -> set[str]:
    return {n for n in names
            if _GEN_DIR_RE.fullmatch(n) or _GEN_MARK_RE.fullmatch(n)}


def committed_generations(spark: SparkSession, path: str) -> list[int]:
    """Sorted generation numbers that have BOTH a commit marker and their
    data directory present under `path`."""
    return _committed(list_names(spark, path))


def current_gen_dir(spark: SparkSession, path: str) -> str:
    """The readable data directory: latest committed generation, or `path`
    itself for a legacy flat layout (no committed generations)."""
    gens = committed_generations(spark, path)
    return posixpath.join(path, _gen_name(gens[-1])) if gens else path


def _reader(spark: SparkSession, schema: StructType | None):
    return spark.read if schema is None else spark.read.schema(schema)


def _parquet(spark: SparkSession, path: str, schema: StructType | None):
    """Read `path`, a dir `current_gen_dir` resolved. A generation dir
    reads as is. A legacy flat layout reads without its `gen-*` entries:
    they are uncommitted (a first migration that died before its marker),
    and beside partition dirs they would make partition discovery fail."""
    reader = _reader(spark, schema)
    if _GEN_DIR_RE.fullmatch(posixpath.basename(path)):
        return reader.parquet(path)
    names = list_names(spark, path)
    if not _gen_entries(names):
        return reader.parquet(path)
    return reader.option("basePath", path).parquet(*(
        posixpath.join(path, n) for n in sorted(names - _gen_entries(names))
        if not n.startswith(("_", "."))
    ))


def read_generation(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """The current generation of the parquet table at `path`. Passing the
    table's `schema` skips parquet schema inference, a Spark job of its
    own."""
    return _parquet(spark, current_gen_dir(spark, path), schema)


def read_or_none(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The parquet table at `path`, or None when the layout holds no data
    files (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA). Every other read
    failure — a corrupt layout, a lost generation — raises."""
    from pyspark.errors import AnalysisException

    try:
        return _parquet(spark, path, schema)
    except AnalysisException as exc:
        # Spark 4 renamed getErrorClass → getCondition; support both
        condition = (getattr(exc, "getCondition", None) or exc.getErrorClass)()
        if condition not in _NO_FILES:
            raise
        return None


def next_gen_dir(spark: SparkSession, path: str) -> tuple[int, str]:
    gens = committed_generations(spark, path)
    n = (gens[-1] if gens else 0) + 1
    return n, posixpath.join(path, _gen_name(n))


def commit_generation(spark: SparkSession, path: str, n: int) -> None:
    """Publish generation `n` with a single atomic marker create — the
    commit point of every publish. Readers resolving before this call see
    the previous generation; after it, the new one."""
    hpath, fs = _fs(spark, path)
    out = fs.create(hpath(posixpath.join(path, _gen_name(n) + ".committed")),
                    True)
    out.close()


def _clear(spark: SparkSession, path: str) -> None:
    hpath, fs = _fs(spark, path)
    if fs.exists(hpath(path)) and not fs.delete(hpath(path), True):
        raise IOError(f"clearing {path} failed")


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


def publish(
    spark: SparkSession,
    root: str,
    data: DataFrame | Callable[[str], None],
    partition_col: str | None = None,
    first: bool = False,
) -> str:
    """Write the next generation of the table at `root` (with `first`, the
    first one, after clearing `root`), commit it with one marker create,
    then GC. `data` is a DataFrame, written as parquet (partitioned by
    `partition_col`), or a callable that fills the generation dir it is
    given. The data may read the current generation: it materializes into
    the next dir before the marker lands. Returns the committed dir."""
    if first:
        _clear(spark, root)
    n, dest = next_gen_dir(spark, root)
    if callable(data):
        data(dest)
    else:
        w = data.write.mode("overwrite")
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(dest)
    commit_generation(spark, root, n)
    gc_generations(spark, root)
    return dest


def append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_col: str | None = None,
) -> None:
    """Append `df` into the live generation of the table at `root`. A
    table without a committed generation publishes generation 1: its
    legacy flat rows (none when the table is new) plus `df`. Uncommitted
    gen dirs a dead migration left are deleted first."""
    names = list_names(spark, root)
    gens = _committed(names)
    if not gens:
        orphans = _gen_entries(names)
        for name in orphans:
            _clear(spark, posixpath.join(root, name))
        # a new table skips the read: Spark logs a stack trace for it
        flat = read_or_none(spark, root) if names - orphans else None
        publish(spark, root, df if flat is None else flat.unionByName(df),
                partition_col)
        return
    w = df.write.mode("append")
    if partition_col is not None:
        w = w.partitionBy(partition_col)
    w.parquet(posixpath.join(root, _gen_name(gens[-1])))


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
        return list_names(self.spark, self.path)

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
    possibly partitioned) parquet table — the file count `cli maintain`
    reports before and after a compaction.

    Goes through the Hadoop FileSystem API like every other index-layout
    operation, so it counts on HDFS/object stores, not just local disk.
    `spark` defaults to the active session; with none, it raises."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "parquet_file_count needs a SparkSession: pass `spark` or "
            "call it while a session is active"
        )
    hpath, fs = _fs(spark, path)
    root = current_gen_dir(spark, path)
    names = list_names(spark, root)
    total = 0
    # a flat layout's gen-* entries are uncommitted: reads skip them too
    for entry in names - _gen_entries(names):
        it = fs.listFiles(hpath(posixpath.join(root, entry)), True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if name.endswith(".parquet") and not name.startswith("."):
                total += 1
    return total


class PersistedIndex:
    """Base of the persisted indexes: the lifecycle the module docstring
    describes, keyed by a subclass's `META` (constructor parameters kept in
    `meta.json`) and `_compaction()` (the tables compact() rewrites)."""

    META: tuple[str, ...] = ()
    GATE = "meta.json"  # the file load() reads; a build writes it last

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._schemas: dict[str, StructType] = {}  # generation dir → schema

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def _start_build(cls, spark: SparkSession, path: str, *args, **kwargs):
        """Clear the index root (every table and sidecar file) and return
        the new, empty index."""
        _clear(spark, path)
        return cls(spark, path, *args, **kwargs)

    def _gate(self):
        """The JSON payload of the gate file."""
        return {k: getattr(self, k) for k in self.META}

    def _finish_build(self):
        """Write the gate file — the build's commit point."""
        write_small_file(self.spark, posixpath.join(self.path, self.GATE),
                         json.dumps(self._gate()).encode("utf-8"))
        return self

    @classmethod
    def _read_gate(cls, spark: SparkSession, path: str):
        return json.loads(read_small_file(spark, posixpath.join(path, cls.GATE)))

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        meta = cls._read_gate(spark, path)
        return cls(spark, path, **{k: meta[k] for k in cls.META if k in meta})

    # --------------------------------------------------------------- tables

    def _root(self, name: str) -> str:
        return posixpath.join(self.path, name)

    def _table_dir(self, name: str) -> str:
        return current_gen_dir(self.spark, self._root(name))

    def _read(self, name: str, empty=None) -> DataFrame:
        """Table `name`'s live generation. A layout without data files
        reads as `empty`: a typed empty frame of that schema (DDL string
        or StructType), or the frame a callable returns; with
        `empty=None` it raises."""
        gen = self._table_dir(name)
        schema = self._schemas.get(gen)
        if empty is None:
            df = _parquet(self.spark, gen, schema)
        else:
            df = read_or_none(self.spark, gen, schema)
            if df is None:
                return (empty() if callable(empty)
                        else self.spark.createDataFrame([], empty))
        self._schemas[gen] = df.schema
        return df

    def _publish(self, name: str, data, partition_col: str | None = None) -> str:
        return publish(self.spark, self._root(name), data, partition_col)

    def _write(self, name: str, df: DataFrame,
               partition_col: str | None = None, build: bool = False) -> None:
        """A build publishes `df` as table `name`'s first generation; an
        add appends it into the live one."""
        if build:
            self._publish(name, df, partition_col)
            return
        w = df.write.mode("append")
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(self._table_dir(name))

    @staticmethod
    def _unindexed(df: DataFrame, key: str, stored: Callable[[], DataFrame],
                   assume_new: bool) -> DataFrame:
        """The re-add guard: `df` without the rows whose `key` is already
        in `stored()`, so re-submitting an indexed item is a no-op instead
        of a silent duplicate. It costs one distinct over the stored ids;
        `assume_new=True` skips it when newness is guaranteed upstream
        (e.g. by an `EpochLedger`)."""
        if assume_new:
            return df
        return df.join(stored().select(key).distinct(), key, "left_anti")

    # ---------------------------------------------------------- maintenance

    def _compaction(self) -> tuple[tuple[str, str | None, int], ...]:
        """(table, partition column or None, file count) for each table
        compact() rewrites, in order."""
        return ()

    def _rewrite(self, name: str, df: DataFrame, partition_col: str | None,
                 num_files: int) -> int:
        """Publish `df` as table `name`'s next generation at `num_files`
        files (per partition value, when partitioned); returns its rows."""
        df = (df.repartition(num_files, partition_col) if partition_col
              else df.coalesce(num_files))
        return self.spark.read.parquet(
            self._publish(name, df, partition_col)
        ).count()

    def compact(self) -> int:
        """Rewrite each `_compaction()` table as a new generation after
        many add() appends; a table without data files is skipped. Returns
        the row count of the last table. Single-writer contract."""
        n = 0
        for name, part, files in self._compaction():
            df = read_or_none(self.spark, self._table_dir(name))
            n = 0 if df is None else self._rewrite(name, df, part, files)
        return n
