"""Entity-table storage: the Postgres schema re-expressed as parquet tables
with upsert/cascade/additive-ingest semantics, each table persisted through
`index_maint`'s generation protocol.

Layout: `{base}/{table}/gen-NNNNNN/` plus `gen-NNNNNN.committed` markers
(see operators/index_maint.py). Embeddings are written `partitionBy("view")`;
documents, concepts, fragments and parents are plain tables.

Mapping from the reference's storage layer:

- expression BTREE on view (storage/schema.py:93-118)  →  the embeddings
  `view` partitioning: an equality filter on it is partition pruning
  (directories skipped, not rows filtered).
- ingest inserts (api/use_cases/ingest.py)  →  `save_ingest` appends the
  new trees INTO each table's live generation; a table without one
  publishes generation 1.
- `ON CONFLICT (key) DO UPDATE` upserts (parent_store.py:47-54,
  app/storage.py:327-438)  →  `upsert_by_key`: anti-join out the incoming
  keys, union, publish as the next generation — last-writer-wins, exactly
  the reference's merge semantics. On a lakehouse table format
  (Delta/Iceberg, jars not present here) the same call becomes MERGE INTO
  without a full rewrite.
- re-ingest idempotency (api/use_cases/ingest.py:147-160)  →
  `cascade_delete` of the re-ingested document ids, then `save_ingest`.
- cascade delete (storage/cascade.py:83-151)  →  operators/cascade.py
  anti-joins, plus the parents rows of the deleted concepts; each
  surviving table is published as its next generation,
  child-first, so a delete that dies midway leaves every table readable
  at its before or its after state.

A store written before generations (flat parquet under `{base}/{table}`)
stays readable; the first write of each table moves its rows into
generation 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.index_maint import (
    PersistedIndex,
    append,
    fs_exists,
    read_or_none,
)


class EntityStore(PersistedIndex):
    """Parquet-backed store for documents/concepts/fragments/embeddings/parents."""

    TABLES = ("documents", "concepts", "fragments", "embeddings", "parents")
    PARTITIONING: dict[str, str] = {"embeddings": "view"}

    def exists(self, table: str) -> bool:
        return fs_exists(self.spark, self._root(table))

    def read(self, table: str) -> DataFrame:
        """The live generation of `table`. A fully deleted partitioned
        table (embeddings; also concepts/fragments in a store written
        before generations, partitioned by document) has no parquet footer
        to take its schema from: it reads as an empty frame of the schema
        ingest writes to it."""
        if table in self.TABLES and self.exists(table):
            return self._read(table, empty=lambda: self._no_rows(table))
        return self._read(table)

    def _no_rows(self, table: str) -> DataFrame:
        from ocr_vector_db_spark.sources.ingest import files_df, ingest

        out = ingest(self.spark, files_df(self.spark, []), dim=1)
        return self.spark.createDataFrame([], out[table].schema)

    def write(self, table: str, df: DataFrame) -> None:
        """Replace `table` with `df`: publish it as the next generation."""
        self._publish(table, df, self.PARTITIONING.get(table))

    def _append(self, table: str, df: DataFrame) -> None:
        """Append `df` into `table`'s live generation (`index_maint.append`:
        a table without one publishes generation 1)."""
        append(self.spark, self._root(table), df, self.PARTITIONING.get(table))

    # ------------------------------------------------------------- upserts

    def upsert_by_key(self, table: str, incoming: DataFrame, key: str) -> None:
        """Last-writer-wins merge on `key` (the ON CONFLICT DO UPDATE
        analogue). Incoming duplicates collapse to one row per key first."""
        incoming = incoming.dropDuplicates([key])
        existing = read_or_none(self.spark, self._table_dir(table))
        if existing is not None:
            survivors = existing.join(
                F.broadcast(incoming.select(key)), key, "left_anti"
            )
            incoming = survivors.unionByName(incoming)
        self.write(table, incoming)

    def insert_if_absent(self, table: str, incoming: DataFrame, keys: list[str]) -> None:
        """`ON CONFLICT DO NOTHING` over a composite key — the custom
        child_chunks dedupe index (storage/schema.py:192-195): keep existing
        rows, append only unseen keys."""
        incoming = incoming.dropDuplicates(keys)
        existing = read_or_none(self.spark, self._table_dir(table))
        if existing is not None:
            incoming = incoming.join(existing.select(*keys), keys, "left_anti")
        self._append(table, incoming)

    # ---------------------------------------------------- ingest / cascade

    def save_ingest(self, out: dict[str, DataFrame]) -> None:
        """Add a full ingest result (documents/concepts/fragments/
        embeddings/parents) to the store. Rows of documents already stored
        are not replaced: re-ingest cascade-deletes them first."""
        for table in ("documents", "concepts", "fragments", "embeddings"):
            self._append(table, out[table])
        self.upsert_by_key("parents", out["parents"], "id")

    def cascade_delete(self, doc_ids: list[str]) -> dict[str, int]:
        """Delete document trees child-first (CASCADE-001..004), with the
        parent contexts of their concepts; returns per-table surviving row
        counts."""
        from ocr_vector_db_spark.operators.cascade import cascade_delete

        doomed = self.spark.createDataFrame([(d,) for d in doc_ids], ["id"])
        concepts = self.read("concepts")
        survivors = cascade_delete(
            self.read("documents"),
            concepts,
            self.read("fragments"),
            self.read("embeddings"),
            doomed,
        )
        # parents are keyed by concept id; published before concepts, so
        # this plan still reads the concepts generation it was built over
        doomed_concepts = concepts.join(
            F.broadcast(doomed.withColumnRenamed("id", "document_id")),
            "document_id", "left_semi",
        ).select("id")
        survivors["parents"] = self.read("parents").join(
            doomed_concepts, "id", "left_anti"
        )
        counts = {}
        for table in ("embeddings", "fragments", "parents", "concepts",
                      "documents"):  # child-first
            self.write(table, survivors[table])
            counts[table] = self.read(table).count()
        return counts

    # ---------------------------------------------------------- maintenance

    def _compaction(self):
        # `compact()` (the OPTIMIZE analogue): embeddings to one file per
        # view dir, every other table to one file per core
        n = self.spark.sparkContext.defaultParallelism
        return tuple((t, self.PARTITIONING.get(t), n) for t in self.TABLES)
