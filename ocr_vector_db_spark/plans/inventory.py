"""The driver-facing query inventory: every operator from SURVEY.md §2 as a
(spark query, duckdb oracle SQL) pair over the driver-generated tables.

The queries live in per-family modules under `plans/families/` (split in
round 9 — the former single file had grown past 5k lines); importing this
hub imports every family, which registers its queries into the shared
QUERIES/ORACLES maps (`plans/families/core.py`).

Engine-portability rules used throughout (so Spark and DuckDB hash-match):
- every computed column is aliased identically on both sides;
- float aggregates go through exact decimal sums:
  sum(round(x, 6)::decimal(28,6))::double — associativity-proof, so Spark's
  partial aggregation order can't shift the result;
- similarities/ratios are rounded to 6 dp on both sides, and every top-k /
  row_number orders by (measure, unique id) so ties are deterministic;
- hashes are md5-based (identical everywhere); MinHash slots compare as
  fixed-length hex strings; SimHash bits come from hex-digit parity;
- row_number()/size()/length() are cast to bigint to match DuckDB's types.
"""

from __future__ import annotations

from ocr_vector_db_spark.plans.families.core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _sql_dsum,
    dsum,
    query,
)

# Importing a family REGISTERS its queries — ORDER MATTERS: the driver
# window rotation (__spark_entry__._driver_order) is stable within tiers
# over registration order, so families load in the original file order.
from ocr_vector_db_spark.plans.families import relational  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import vector  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import text  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import events  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import chunk_ivf  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import nonsql  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import stats  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import pdf  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import retrieval  # noqa: E402,F401
from ocr_vector_db_spark.plans.families import korean  # noqa: E402,F401
