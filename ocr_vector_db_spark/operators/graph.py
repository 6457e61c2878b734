"""Iterative graph algorithms over edge DataFrames.

Extends the dedup-graph family (operators/dedup.py::connected_components —
reference parity: the duplicate-cluster analysis implied by
storage/metrics.py:60-68's duplicate groups) with PageRank-style importance
scoring, e.g. to pick the most "central" member of a near-duplicate cluster
or to rank documents by citation/link structure in a training-data pipeline.

Determinism contract (so a SQL oracle can reproduce the result bit-for-bit):
every per-iteration float is rounded to a fixed scale and neighbor
contributions are summed as DECIMAL (associativity-proof), so Spark's
partial-aggregation order cannot shift the result.

Scale notes (100 TB): each iteration is one equi-join (ranks ⋈ edges on the
src key) plus one hash agg on dst. Edges are the big side and are iteration-
invariant — they are hash-partitioned on src ONCE and cached, so every
iteration's join reuses that partitioning and only the (nodes-sized) rank
table shuffles. Ranks are checkpointed every few iterations to truncate the
lineage that would otherwise grow linearly with iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping: float = 0.85,
    teleport: float = 0.15,
    src: str = "src",
    dst: str = "dst",
    scale: int = 9,
    cache: bool = True,
    dangling: str = "error",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (pass both
    directions for an undirected graph).

    ``dangling`` controls nodes with out-degree 0 (their rank mass has
    nowhere to flow — silently it would leak out of the system each
    iteration):

    - ``"error"`` (default): require out-degree >= 1 for every node
      (always true for symmetrized edge lists, e.g. the near-dup graphs
      this ranks) and FAIL LOUDLY otherwise — one edge-list-sized
      anti-join preflight, no per-iteration cost. Output rows are the
      nodes receiving contributions, exactly the historical contract.
    - ``"redistribute"``: classic dangling handling (Brin & Page; the
      PageRank most engines ship): each iteration the summed rank of
      out-degree-0 nodes is shared to EVERY node as dangling_mass/n,
      rank = teleport/n + damping·(Σ contribs + dangling_mass/n).
      Output covers the full node universe (src ∪ dst). The dangling sum
      is decimal (order-proof) like the contribution sums, so the result
      stays bit-reproducible and SQL-oracle-matchable (q113).

    Returns (id, rank) with rank rounded to ``scale`` decimals per iteration.
    """
    if dangling not in ("error", "redistribute"):
        raise ValueError(f"dangling={dangling!r} (error|redistribute)")
    deg = edges.groupBy(src).agg(F.count("*").alias("deg"))
    deg = deg.select(F.col(src).alias("id"), "deg")
    if cache:
        deg = deg.cache()
        edges = edges.cache()

    if dangling == "error":
        n = deg.count()  # one small agg job; the node table is edges >> nodes
        leak = (
            edges.select(F.col(dst).alias("id")).distinct()
            .join(deg, "id", "left_anti")
        )
        bad = leak.limit(3).collect()
        if bad:
            raise ValueError(
                "pagerank(dangling='error'): node(s) "
                f"{sorted(r.id for r in bad)}… have out-degree 0 — their "
                "rank mass would silently leak. Symmetrize the edge list "
                "or pass dangling='redistribute'."
            )
        nodes = deg  # every node has out-degree >= 1: deg holds them all
    else:
        nodes = (
            edges.select(F.col(src).alias("id"))
            .union(edges.select(F.col(dst).alias("id")))
            .distinct()
        )
        if cache:
            nodes = nodes.cache()
        n = nodes.count()
    if n == 0:  # edge-less graph: no node to rank, same (id, rank) schema
        return nodes.select("id", F.lit(0.0).alias("rank"))
    ranks = nodes.select("id", F.round(F.lit(1.0 / n), scale).alias("rank"))

    base = teleport / n  # driver-side double, identical to SQL 0.15/n
    for i in range(iterations):
        contrib = (
            ranks.join(deg, "id")
            .join(edges, F.col("id") == F.col(src))
            .select(
                F.col(dst).alias("to_id"),
                F.round(F.col("rank") / F.col("deg"), scale).alias("c"),
            )
        )
        agg = contrib.groupBy("to_id").agg(
            F.sum(F.col("c").cast(f"decimal(28,{scale})"))
            .cast("double")
            .alias("s")
        )
        if dangling == "error":
            ranks = agg.select(
                F.col("to_id").alias("id"),
                F.round(F.lit(base) + F.lit(damping) * F.col("s"), scale).alias(
                    "rank"
                ),
            )
        else:
            # dangling share: decimal sum of out-degree-0 ranks, spread
            # evenly — a 1-row aggregate crossJoined (broadcast) onto the
            # node universe, so no per-iteration driver action is needed
            share = (
                ranks.join(deg, "id", "left_anti")
                .agg(
                    F.round(
                        F.coalesce(
                            F.sum(F.col("rank").cast(f"decimal(28,{scale})"))
                            .cast("double"),
                            F.lit(0.0),
                        ) / F.lit(float(n)),
                        scale,
                    ).alias("__share")
                )
            )
            ranks = (
                nodes.join(agg, nodes["id"] == agg["to_id"], "left")
                .crossJoin(share)
                .select(
                    nodes["id"],
                    F.round(
                        F.lit(base)
                        + F.lit(damping)
                        * (F.coalesce(F.col("s"), F.lit(0.0))
                           + F.col("__share")),
                        scale,
                    ).alias("rank"),
                )
            )
        # Truncate lineage: without this, iteration k's plan embeds all k-1
        # prior joins and the optimizer re-plans a growing DAG each pass.
        if cache and i % 3 == 2:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks
