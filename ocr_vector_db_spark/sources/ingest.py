"""Distributed ingest pipeline (the reference's §3.1 lifecycle, Spark-shaped).

    files → parse (mapInPandas, one file per row)
          → unitize + concept-build (applyInPandas per document)
          → fragments DF → eligibility filter → deterministic ids
          → embeddings DF (Arrow-batched embed UDF)
          → parents DF (sort_array/collect_list synthesis — pure JVM)

Scale shape: parsing and unitization are per-document Python (the only
genuinely sequential stages) and parallelize across documents; everything
after the fragments DF is built-in expressions. The shuffle points are
exactly: repartition by document for unitize, one hash-agg for parents.

Re-ingest idempotency (api/use_cases/ingest.py:147-160): same source_path →
same document id → cascade_delete of that id, then `EntityStore.save_ingest`
appends the fresh tree.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_vector_db_spark.functions import hashing, validators
from ocr_vector_db_spark.functions.vector import embed_udf
from ocr_vector_db_spark.operators.parents import synthesize_parents
from ocr_vector_db_spark.sources import parsers
from ocr_vector_db_spark.sources.concept_builder import build_concepts
from ocr_vector_db_spark.sources.segmentation import unitize

FILES_SCHEMA = T.StructType([
    T.StructField("source_path", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
    T.StructField("fmt", T.StringType(), True),
])

SEGMENT_SCHEMA = T.StructType([
    T.StructField("document_id", T.StringType(), False),
    T.StructField("source_path", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
    T.StructField("language", T.StringType(), True),
    T.StructField("order", T.IntegerType(), False),
    T.StructField("page", T.IntegerType(), True),
])

FRAGMENT_FULL_SCHEMA = T.StructType([
    T.StructField("document_id", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("concept_id", T.StringType(), False),
    T.StructField("concept_order", T.IntegerType(), False),
    T.StructField("unit_type", T.StringType(), False),
    T.StructField("id", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
    T.StructField("view", T.StringType(), False),
    T.StructField("language", T.StringType(), True),
    T.StructField("order", T.IntegerType(), False),
    T.StructField("unit_role", T.StringType(), False),
    T.StructField("original_kind", T.StringType(), False),
])


def read_files(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Whole-file text source; fmt from extension. For huge corpora swap in
    binaryFile + per-format decode without touching the rest of the plan."""
    expanded = parsers.expand_file_patterns(paths)
    # input_file_name() yields a file:// URI — normalize to the plain path so
    # document identity (md5(source_path), ingest.py:149) matches ids derived
    # from user-supplied paths at delete/re-ingest time
    df = spark.read.text(expanded, wholetext=True).withColumn(
        "source_path", F.regexp_replace(F.input_file_name(), r"^file:(//)?", "")
    )
    return df.select(
        F.col("source_path"),
        F.col("value").alias("content"),
        F.when(F.col("source_path").rlike(r"\.(md|markdown)$"), "md")
        .when(F.col("source_path").rlike(r"\.(ocr)(\.txt)?$"), "ocr")
        .otherwise("txt")
        .alias("fmt"),
    )


def files_df(spark: SparkSession, files: list[tuple[str, str, str]]) -> DataFrame:
    """In-memory files source for tests: [(source_path, content, fmt)]."""
    return spark.createDataFrame(files, FILES_SCHEMA)


def parse_segments(files: DataFrame) -> DataFrame:
    """files → RawSegments; one parser call per file, Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content, fmt in zip(pdf["source_path"], pdf["content"], pdf["fmt"]):
                doc_id = hashing.document_id(path)
                for seg in parsers.parse_file(path, content, fmt):
                    rows.append({
                        "document_id": doc_id,
                        "source_path": path,
                        "kind": seg["kind"],
                        "content": seg["content"],
                        "language": seg["language"],
                        "order": seg["order"],
                        "page": seg["page"],
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])

    return files.mapInPandas(run, SEGMENT_SCHEMA)


PDF_FILES_SCHEMA = T.StructType([
    T.StructField("source_path", T.StringType(), False),
    T.StructField("data", T.BinaryType(), False),
])


def pdf_files_df(spark: SparkSession, files: list[tuple[str, bytes]]) -> DataFrame:
    """In-memory binary PDF source: [(source_path, pdf_bytes)]. Production
    reads the same shape via `spark.read.format('binaryFile')`."""
    return spark.createDataFrame(files, PDF_FILES_SCHEMA)


def parse_pdf_segments(files: DataFrame, enable_auto_ocr: bool = False,
                       ocr=None) -> DataFrame:
    """Binary PDFs → RawSegments via the full decode + Vision Invocation
    Policy path (parsers.parse_pdf); one document per row, Arrow-batched.
    Output plugs straight into build_fragments — PDF ingest shares every
    stage after parsing with the text formats."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, data in zip(pdf["source_path"], pdf["data"]):
                doc_id = hashing.document_id(path)
                for seg in parsers.parse_pdf(
                    bytes(data), ocr=ocr, enable_auto_ocr=enable_auto_ocr
                ):
                    rows.append({
                        "document_id": doc_id,
                        "source_path": path,
                        "kind": seg["kind"],
                        "content": seg["content"],
                        "language": seg["language"],
                        "order": seg["order"],
                        "page": seg["page"],
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])

    return files.mapInPandas(run, SEGMENT_SCHEMA)


PDF_ASSET_SCHEMA = T.StructType([
    T.StructField("source_path", T.StringType(), False),
    T.StructField("asset_id", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("data", T.BinaryType(), False),
    T.StructField("metadata",
                  T.MapType(T.StringType(), T.StringType()), True),
])


def pdf_image_assets(files: DataFrame) -> DataFrame:
    """Binary PDFs → drawn-image asset rows, distributed (mapInPandas,
    one document per input row): FlateDecode rasters as raw pixel buffers,
    DCTDecode images as verbatim JPEG bytes (pdf_decode.extract_pdf_images).
    Output is `source_path` + the multimodal ASSET_SCHEMA columns, so it
    feeds `multimodal.extract_features` / `ocr_policy.gate_assets_for_ocr`
    directly — the distributed form of the reference's render-page-and-OCR
    loop (pymupdf_parser.py:518-569,773-823)."""
    from ocr_vector_db_spark.sources.pdf_decode import extract_pdf_images

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, data in zip(pdf["source_path"], pdf["data"]):
                for asset in extract_pdf_images(bytes(data)):
                    rows.append({"source_path": path, **asset})
            yield pd.DataFrame(
                rows, columns=[f.name for f in PDF_ASSET_SCHEMA.fields]
            )

    return files.mapInPandas(run, PDF_ASSET_SCHEMA)


def _fragment_rows(
    doc_id: str, source_path: str, segs: list[dict], **unitizer_kwargs
) -> list[dict]:
    """Unitize one document's ordered segments and flatten to FRAGMENT_FULL
    rows (shared by the shuffled segment-level path and the fused file path)."""
    source = source_path.rsplit("/", 1)[-1]
    unitized = unitize(segs, **unitizer_kwargs)
    concepts, fragments = build_concepts(unitized, doc_id)
    cmeta = {c["id"]: c for c in concepts}
    return [
        {
            "document_id": doc_id,
            "source": source,
            "concept_id": f["concept_id"],
            "concept_order": cmeta[f["concept_id"]]["order"],
            "unit_type": cmeta[f["concept_id"]]["metadata"]["unit_type"],
            "id": f["id"],
            "content": f["content"],
            "view": f["view"],
            "language": f["language"],
            "order": f["order"],
            "unit_role": f["metadata"]["unit_role"],
            "original_kind": f["metadata"]["original_kind"],
        }
        for f in fragments
    ]


def build_fragments(segments: DataFrame, **unitizer_kwargs) -> DataFrame:
    """Per-document ordered scan: unitize automaton + concept builder.

    groupBy(document_id).applyInPandas guarantees each document arrives
    whole; the group is sorted by `order` before the automaton runs. Use
    this when segments arrive pre-exploded from arbitrary sources; when
    the input is whole files, `parse_fragments` fuses parse+unitize into
    one Python stage with NO shuffle in between."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("order")
        doc_id = pdf["document_id"].iloc[0]
        segs = [
            {
                "kind": r.kind,
                "content": r.content,
                "language": None if pd.isna(r.language) else r.language,
                "order": int(r.order),
            }
            for r in pdf.itertuples()
        ]
        rows = _fragment_rows(
            doc_id, pdf["source_path"].iloc[0], segs, **unitizer_kwargs
        )
        return pd.DataFrame(rows, columns=[f.name for f in FRAGMENT_FULL_SCHEMA.fields])

    return segments.groupBy("document_id").applyInPandas(run, FRAGMENT_FULL_SCHEMA)


def parse_fragments(files: DataFrame, **unitizer_kwargs) -> DataFrame:
    """Fused parse → unitize → concepts in ONE mapInPandas stage.

    A parser call already yields a whole document's segments in order from a
    single input row, so the groupBy(document_id) shuffle between
    `parse_segments` and `build_fragments` moves data that is ALREADY
    document-co-located: fusing the two Python stages removes one shuffle
    AND one Arrow serialize/deserialize round trip per document — the same
    output, one stage earlier. (Measured ~35% off the ingest bench entry;
    at scale it also halves the Python-boundary traffic, the pipeline's
    most expensive lane.)"""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FRAGMENT_FULL_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for path, content, fmt in zip(pdf["source_path"], pdf["content"], pdf["fmt"]):
                doc_id = hashing.document_id(path)
                segs = [
                    {
                        "kind": s["kind"],
                        "content": s["content"],
                        "language": s["language"],
                        "order": s["order"],
                    }
                    for s in parsers.parse_file(path, content, fmt)
                ]
                rows.extend(
                    _fragment_rows(doc_id, path, segs, **unitizer_kwargs)
                )
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(run, FRAGMENT_FULL_SCHEMA)


def build_embeddings(fragments: DataFrame, dim: int = 64) -> DataFrame:
    """Eligibility-filter then embed (FRAG-LEN-001 + EMBED-BAN-* upstream of
    the paid embed call, exactly like the reference's ingest stage 5).

    doc_id = "doc:"+md5(parent|view|lang|content) (EMBED-ID-002); duplicate
    doc_ids collapse pre-embed (vector_store.py:71-78) — at scale this both
    dedupes and shrinks the expensive stage's input."""
    eligible = fragments.filter(validators.is_eligible_col(F.col("content")))
    keyed = eligible.withColumn(
        "doc_id",
        hashing.doc_id_col(F.col("concept_id"), F.col("view"), F.col("language"), F.col("content")),
    ).dropDuplicates(["doc_id"])
    return keyed.select(
        "doc_id",
        F.col("id").alias("fragment_id"),
        F.col("concept_id").alias("parent_id"),
        "view",
        F.col("language").alias("lang"),
        "source",
        "order",
        "content",
        embed_udf(dim)(F.col("content")).alias("embedding"),
    )


def ingest(spark: SparkSession, files: DataFrame, dim: int = 64) -> dict[str, DataFrame]:
    """Full pipeline → {documents, concepts, fragments, embeddings, parents}."""
    documents = files.select(
        hashing.document_id_col(F.col("source_path")).alias("id"),
        "source_path",
        F.current_timestamp().alias("created_at"),
        F.create_map(
            F.lit("filename"), F.element_at(F.split("source_path", "/"), -1)
        ).alias("metadata"),
    )
    segments = parse_segments(files)
    frags_full = parse_fragments(files)
    concepts = (
        frags_full.select(
            F.col("concept_id").alias("id"),
            "document_id",
            F.col("concept_order").alias("order"),
            "unit_type",
        )
        .dropDuplicates(["id"])
    )
    fragments = frags_full.select(
        "id", "concept_id", "content", "view", "language", "order",
        "unit_role", "original_kind", "document_id", "source",
    )
    embeddings = build_embeddings(frags_full, dim)
    parents = synthesize_parents(fragments, concept_col="concept_id", limit_chars=2000)
    return {
        "documents": documents,
        "segments": segments,
        "concepts": concepts,
        "fragments": fragments,
        "embeddings": embeddings,
        "parents": parents,
    }
