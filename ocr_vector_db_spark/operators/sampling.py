"""Deterministic weighted sampling for training-mix construction.

`weighted_sample` is Efraimidis & Spirakis (2006) A-ES reservoir sampling
expressed as a top-k: each row draws key_i = ln(u_i) / w_i (the log of
u_i^(1/w_i), same ordering) with u_i a salted-md5-derived uniform, and the
k largest keys ARE a weighted sample without replacement — inclusion
probability tracks w_i exactly as the sequential reservoir algorithm.

Why this shape at 100 TB:
  * Draws are pure functions of the row key (md5-uniform, no seeded RNG) —
    the repo-wide split/keep discipline (q57/q91): the sample is stable
    across engines, re-runs, repartitions, and incremental appends.
  * The "reservoir" never exists as state: selection is one
    TakeOrderedAndProject over the scored scan (per-partition heaps + one
    k-row merge on the driver), no shuffle of the corpus, no sequential
    pass. Streaming twin: keep a per-batch top-k and fold — keys are
    comparable across batches by construction.
  * ln/division on engine-identical doubles (conv(md5) is the established
    portable hex path — operators/packing.py:42); ranking uses the
    UNROUNDED key, the emitted column rounds to 6 dp.

Rows with weight <= 0 are excluded (u^(1/w) is undefined there), matching
the sequential algorithm's domain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_U52 = float(1 << 52)  # 13 hex digits -> [0, 2^52); +0.5 keeps u in (0,1)


def es_key_col(id_col: Column, weight: Column, salt: str = "es") -> Column:
    """ln(u)/w — the A-ES sort key (descending = weighted sample)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "#"), id_col.cast("string"))), 1, 13
        ),
        16, 10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(_U52)
    return F.log(u) / weight.cast("double")


def fold_sample(
    current: DataFrame | None,
    batch: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "es",
) -> DataFrame:
    """One A-ES fold step: the weighted top-k of `current ∪ batch`, where
    `current` is a previous fold's (id, weight, …) output (or None for
    the first batch). EXACTLY the sample `weighted_sample` draws over the
    union of every folded batch, because (a) the key is a pure function
    of (id, weight) — recomputed from the stored columns, no precision
    carried between folds — and (b) A-ES selection is an associative
    top-k: top_k(A ∪ B) ⊆ top_k(top_k(A) ∪ B). Per-fold cost is
    O(batch + k); the historical stream is never rescanned.

    Duplicate ids across folds (a replayed epoch, an id re-delivered)
    collapse via dropDuplicates(id) — the key is id-deterministic, so the
    rows are identical and the fold is idempotent. An id re-appearing
    with a DIFFERENT weight is a caller bug (which weight the sample
    keeps is then nondeterministic, as in any keyed upsert)."""
    u = batch.select(F.col(id_col), F.col(weight_col).alias("weight"))
    if current is not None:
        u = current.select(id_col, "weight").unionByName(u)
    return weighted_sample(
        u.dropDuplicates([id_col]), k, "weight", id_col=id_col, salt=salt
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "es",
) -> DataFrame:
    """(id_col, weight, es_key): k rows sampled WITHOUT replacement with
    probability proportional to `weight_col`, deterministically — the
    same k rows on every run/engine/partitioning. Ties on the key break
    by id; es_key is emitted rounded to 6 dp for cross-engine compare."""
    key = es_key_col(F.col(id_col), F.col(weight_col), salt)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            id_col,
            F.col(weight_col).alias("weight"),
            key.alias("__k"),
        )
        .orderBy(F.desc("__k"), id_col)
        .limit(k)
        .select(id_col, "weight", F.round("__k", 6).alias("es_key"))
    )


class RunningSample:
    """Persisted running A-ES sample for streams — the stateful twin the
    module docstring promises: a k-row (id, weight, es_key) table under
    generation pointers (`operators/index_maint.py`), folded once per
    epoch with `fold_sample`. State is k rows regardless of how much the
    stream has ingested; every fold is one O(batch + k) job plus a k-row
    generation publish. Replay-safe: folds are idempotent (id-dedup +
    id-deterministic keys), so a crashed epoch's retry re-folds harmlessly.
    Single-writer contract, like every index in this repo."""

    def __init__(self, spark, path: str, k: int, weight_col: str,
                 id_col: str = "doc_id", salt: str = "es"):
        self.spark = spark
        self.path = path
        self.k = k
        self.weight_col = weight_col
        self.id_col = id_col
        self.salt = salt

    def current(self) -> DataFrame | None:
        """The latest committed sample (None before the first fold)."""
        from ocr_vector_db_spark.operators.index_maint import (
            committed_generations,
            current_gen_dir,
        )

        if not committed_generations(self.spark, self.path):
            return None
        return self.spark.read.parquet(current_gen_dir(self.spark, self.path))

    def fold(self, batch: DataFrame) -> None:
        """Fold one accepted batch and publish the new sample as the next
        generation (atomic marker commit; readers always see a complete
        k-row sample — the previous one until the marker lands)."""
        from ocr_vector_db_spark.operators.index_maint import publish

        new = fold_sample(
            self.current(), batch, self.k, self.weight_col,
            id_col=self.id_col, salt=self.salt,
        )
        publish(self.spark, self.path, new.coalesce(1))  # ≤ k rows: one file


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    total: int,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """(strata..., id_col, strat_rank): a deterministic stratified sample
    of EXACTLY ``total`` rows (when the corpus has that many) with
    proportional-to-size allocation and largest-remainder rounding —
    "give me a 100k-doc eval slice that mirrors the corpus's lang×source
    mix" without a seeded RNG.

    Allocation (Hamilton's method): each stratum s of size n_s gets
    floor(total·n_s/N) rows, and the ``total - Σfloor`` leftover seats go
    to the strata with the largest remainders (ties by stratum key ASC)
    — the classic exact apportionment, reproduced bit-for-bit in SQL
    because every quantity is integer (the remainder comparison uses
    total·n_s mod N, never a float). Within a stratum, rows are ranked
    by (md5(salt#id), id) — the repo's engine-portable uniform order
    (q57's split discipline) — and the first quota rows win.

    Scale shape: stratum sizes are ONE map-side-combinable hash agg; the
    allocation math runs on the strata-cardinality-bounded table (two
    1-row aggregate broadcasts + one bounded window, exactly ranking.py's
    offsets pattern); quotas broadcast back onto the corpus. The
    per-stratum rank is bounded by the LITERAL ``total`` first (every
    quota is ≤ total by construction), which is what lets Spark compile
    the window to WindowGroupLimit — per-partition top-``total`` heaps
    BEFORE the stratum shuffle; a ``rank <= quota_column`` filter alone
    would not (group-limit pushdown needs a foldable bound). The exact
    per-stratum quota cut then applies on the ≤ strata·total survivors.
    Nothing global-sorts
    and the corpus shuffles once, on the stratum key. Deterministic under
    re-runs, repartitions, and engines (md5 + integer math only)."""
    from ocr_vector_db_spark.operators.retrieval import bounded_window
    from pyspark.sql import Window

    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    scols = [F.col(c) for c in strata]
    sizes = df.groupBy(*scols).agg(F.count("*").cast("bigint").alias("_ns"))
    n_tot = sizes.agg(F.sum("_ns").cast("bigint").alias("_ntot"))
    sized = sizes.join(F.broadcast(n_tot))  # strata-bounded × 1 row
    # bigint div/mod, never a float floor — exact at any corpus size and
    # bit-identical to the SQL oracle's `//`
    base = F.call_function(
        "div", F.lit(total) * F.col("_ns"), F.col("_ntot")
    ).cast("bigint")
    rem = (F.lit(total) * F.col("_ns")) % F.col("_ntot")
    sized = sized.select(
        *strata, "_ns", base.alias("_q0"), rem.alias("_rem")
    )
    leftover = sized.agg(
        (F.lit(total) - F.sum("_q0")).cast("bigint").alias("_left")
    )
    # bounded window: the relation is strata-cardinality-sized, never the
    # corpus (ranking.py's offsets-table pattern)
    rk = F.row_number().over(
        bounded_window(F.col("_rem"), F.desc("_rem"),
                       *[F.asc(c) for c in strata])
    ).cast("bigint")
    quotas = (
        sized.select(*strata, "_ns", "_q0", rk.alias("_rk"))
        .join(F.broadcast(leftover))
        .select(
            *strata, "_ns",
            F.least(
                F.col("_q0")
                + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0),
                F.col("_ns"),
            ).alias("_quota"),
        )
    )
    order = F.md5(F.concat(F.lit(salt + "#"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*scols).orderBy(order.asc(), F.col(id_col).asc())
    ranked = df.select(*strata, id_col).withColumn(
        "strat_rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("strat_rank") <= F.lit(total))  # → WindowGroupLimit
    return (
        ranked.join(F.broadcast(quotas), strata)
        .filter(F.col("strat_rank") <= F.col("_quota"))
        .select(*strata, id_col, "strat_rank")
    )
