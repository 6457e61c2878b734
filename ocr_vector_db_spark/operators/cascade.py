"""Cascade delete (rules CASCADE-001..004) as anti-joins.

Reference: storage/cascade.py:83-151 deletes child-first per document —
Document → Concepts → Fragments → Embeddings. In Spark the delete is a
declarative rewrite: each level anti-joins against the deleted key set of its
parent level, so the whole cascade is four shuffle-free (broadcast) anti-joins
when the deleted-key set is small, and plain shuffled anti-joins otherwise.

Re-ingest idempotency (api/use_cases/ingest.py:147-160) = cascade_delete of
the document id followed by appending the fresh tree (`storage.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cascade_delete(
    documents: DataFrame,
    concepts: DataFrame,
    fragments: DataFrame,
    embeddings: DataFrame,
    doc_ids: DataFrame,
) -> dict[str, DataFrame]:
    """Return the surviving rows of each level after deleting `doc_ids`
    (a one-column DataFrame named `id`). Child tables are filtered by
    semi-deriving the doomed keys of their parent level."""
    doomed_docs = doc_ids.select(F.col("id"))
    doomed_concepts = concepts.join(
        F.broadcast(doomed_docs), concepts["document_id"] == doomed_docs["id"], "left_semi"
    ).select(F.col("id"))
    doomed_fragments = fragments.join(
        F.broadcast(doomed_concepts.withColumnRenamed("id", "cid")),
        fragments["concept_id"] == F.col("cid"),
        "left_semi",
    ).select(F.col("id"))

    return {
        "documents": documents.join(F.broadcast(doomed_docs), "id", "left_anti"),
        "concepts": concepts.join(
            F.broadcast(doomed_docs.withColumnRenamed("id", "did")),
            concepts["document_id"] == F.col("did"),
            "left_anti",
        ),
        "fragments": fragments.join(
            F.broadcast(doomed_concepts.withColumnRenamed("id", "cid")),
            fragments["concept_id"] == F.col("cid"),
            "left_anti",
        ),
        "embeddings": embeddings.join(
            F.broadcast(doomed_fragments.withColumnRenamed("id", "fid")),
            embeddings["fragment_id"] == F.col("fid"),
            "left_anti",
        ),
    }
