"""Persistent IVF ANN index: the Spark answer to pgvector's HNSW.

The reference serves KNN through an HNSW index with `ivfflat.probes`-style
recall knobs (storage/schema.py:30-85). Spark has no online graph index, and
batch index build + pruned scan is the idiomatic equivalent at scale:

  build:  MLlib KMeans over (a sample of) the corpus → centroid table
          assign every vector its nearest cluster_id
  store:  embeddings parquet PARTITIONED BY cluster_id (+ the tiny centroid
          table alongside) — the cluster layout IS the index
  search: score centroids driver-side (they fit in memory by construction),
          filter `cluster_id IN nprobe-nearest` — a partition-pruned scan
          that reads nprobe/num_clusters of the data — then exact top-k
          inside the probed clusters

recall/latency knobs = (num_clusters, nprobe), mirroring ivfflat's
(lists, probes). nprobe = num_clusters degrades gracefully to exact search.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.index_maint import (
    PersistedIndex,
    fs_exists,
    publish,
    read_generation,
    read_small_file,
    write_small_file,
)
from ocr_vector_db_spark.operators.knn import knn_brute_force


def _cos(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na and nb else 0.0


def assign_nearest_centroid(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    emb_col: str = "embedding",
    metric: str = "cosine",
    out_col: str = "cluster_id",
    keep_centroid: str | None = None,
) -> DataFrame:
    """df + `out_col`: each row's nearest centroid, as a BROADCAST JOIN +
    window argmin — the scale-safe form of nearest-centroid assignment.

    The naive form (a chained ``F.when`` comparing every centroid in turn)
    builds an O(num_clusters)-deep Catalyst expression tree; at the
    ~180k clusters a 100 TB corpus needs (SCALING.md: num_clusters ≈ √N)
    that blows analysis time/stack long before any data moves. This shape
    instead crossJoins the (tiny by construction — centroids fit in memory,
    that's what makes them centroids) broadcast centroid table and takes a
    row_number argmin per input row, so the PLAN is constant-size no matter
    how many clusters exist; the same shape `screen_near_dups` always used.

    metric: ``cosine`` (argmax cosine — IVFIndex's assignment metric) or
    ``l2`` (argmin squared L2 — what KMeans assigned with, IVF-PQ's
    residual metric). Ties break to the smallest cluster_id, identical to
    both the old strict-comparison chains and `probe_clusters`' ordering.
    Zero-vector centroids score with norm 1.0 (legacy guard). Rows are
    keyed by a transient `monotonically_increasing_id`, so `df` needs no
    unique id column.

    `keep_centroid`: also return the winning centroid's array under this
    column name (saves IVF-PQ's residual path a second join)."""
    from ocr_vector_db_spark.functions.vector import dot_col, norm_col

    spark = df.sparkSession
    reserved = {"__cid", "__c_emb", "__c_norm", "__row_id", "__score", "__rk"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"assign_nearest_centroid: df columns {sorted(clash)} collide "
            "with internal columns; rename them first"
        )
    cent = spark.createDataFrame(
        [
            (int(cid), [float(x) for x in v],
             math.sqrt(sum(float(x) * float(x) for x in v)) or 1.0)
            for cid, v in centroids
        ],
        "__cid int, __c_emb array<double>, __c_norm double",
    )
    v = F.col(emb_col).cast("array<double>")
    if metric == "cosine":
        score = dot_col(v, F.col("__c_emb")) / (norm_col(v) * F.col("__c_norm"))
        order = [F.desc("__score"), F.col("__cid")]
    elif metric == "l2":
        score = F.aggregate(
            F.zip_with(v, F.col("__c_emb"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        order = [F.asc("__score"), F.col("__cid")]
    else:
        raise ValueError(f"unknown metric {metric!r} (cosine|l2)")

    from pyspark.sql import Window

    w = Window.partitionBy("__row_id").orderBy(*order)
    out = [*df.columns, F.col("__cid").cast("int").alias(out_col)]
    if keep_centroid is not None:
        out.append(F.col("__c_emb").alias(keep_centroid))
    return (
        df.withColumn("__row_id", F.monotonically_increasing_id())
        .crossJoin(F.broadcast(cent))
        .withColumn("__score", score)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(*out)
    )


def fit_hier_layer(
    spark: SparkSession,
    path: str,
    centroids: list[tuple[int, list[float]]],
    l1_branches: int,
    seed: int = 42,
    max_iter: int = 20,
) -> tuple[list[tuple[int, list[float]]], list[int]]:
    """Fit + persist the two-level coarse layer under `path` — shared by
    IVFIndex and IVFPQIndex (same layout, same invariants): a seeded
    in-memory KMeans over the cluster centroids themselves gives the tiny
    L1; `hier.json` carries (l1, cluster→branch map); the L2 centroid
    table lands as parquet PARTITIONED BY l1_id — the
    distributed-assignment side: executors join (row, branch) against
    only the probed branches' centroid partitions, so no
    num_clusters-sized broadcast ever ships. Returns (l1, l2_to_l1)."""
    import numpy as np

    from ocr_vector_db_spark.operators.pq import _lloyd

    C = np.asarray([c for _, c in centroids], dtype=np.float64)
    k1 = min(l1_branches, len(centroids))
    rng = np.random.default_rng(seed)
    B = _lloyd(C, k1, rng, max_iter)
    # expansion form ||c||² − 2c·b + ||b||²: an (n, k1) matrix, never the
    # (n, k1, dim) broadcast intermediate — at the documented 180k-cluster
    # target the 3-D form is ~half a TB of driver memory, this is ~600 MB
    d2 = (
        (C * C).sum(axis=1)[:, None]
        - 2.0 * (C @ B.T)
        + (B * B).sum(axis=1)[None, :]
    )
    l2_to_l1 = [int(b) for b in d2.argmin(axis=1)]
    l1 = [(i, [float(x) for x in b]) for i, b in enumerate(B)]
    write_small_file(
        spark, os.path.join(path, "hier.json"),
        json.dumps({"l1": l1, "map": l2_to_l1}).encode("utf-8"),
    )
    cent_df = spark.createDataFrame(
        [(l2_to_l1[cid], cid, vec) for cid, vec in centroids],
        "l1_id int, cluster_id int, centroid array<double>",
    )
    publish(spark, os.path.join(path, "centroids_l2"), cent_df.repartition(1),
            "l1_id")
    return l1, l2_to_l1


def load_hier_layer(
    spark: SparkSession, path: str
) -> tuple[list[tuple[int, list[float]]], list[int]]:
    """(l1, l2_to_l1) from `path`/hier.json, or ([], []) for flat
    indexes."""
    if not fs_exists(spark, os.path.join(path, "hier.json")):
        return [], []
    hier = json.loads(read_small_file(spark, os.path.join(path, "hier.json")))
    return (
        [(int(i), v) for i, v in hier["l1"]],
        [int(b) for b in hier["map"]],
    )


def hier_centroids_df(spark: SparkSession, path: str) -> DataFrame:
    """The (l1_id, cluster_id, centroid) parquet table of a hierarchical
    index — the distributed-assignment side that replaces any
    num_clusters-sized broadcast."""
    return read_generation(spark, os.path.join(path, "centroids_l2"))


def rank_branches(
    l1: list[tuple[int, list[float]]], query_vector: list[float]
) -> list[int]:
    """Branch ids by (cosine desc, l1_id) — the driver-side L1 ranking
    every hier probe path shares."""
    return [
        bid for bid, _ in
        sorted(l1, key=lambda c: (-_cos(c[1], query_vector), c[0]))
    ]


def hier_branch_candidates(
    df: DataFrame,
    l1: list[tuple[int, list[float]]],
    l2df: DataFrame,
    branches: int,
    part_col: str,
    emb_col: str,
    metric: str = "cosine",
) -> DataFrame:
    """df × its top-`branches` L1 branches, joined to the L2 parquet
    centroid table — the shared candidate-generation stage under every
    hierarchical path (assignment, dense-gate probes, distributed sweep
    ranking, IVF-PQ batched serving). Nothing num_clusters-sized is
    broadcast: L1 is ≈ √num_clusters rows, the L2 table arrives via a
    parquet equi-join on l1_id touching only the probed branches'
    partitions. Output = df's columns + (l1_id, cluster_id, centroid).

    L1 branches rank with the SAME metric that will score the candidates
    downstream (cosine desc / squared-L2 asc, l1_id tie-break) — a
    cosine-ranked L1 over an L2-assigned space would prune the branch
    holding the true nearest centroid for unnormalized data."""
    from pyspark.sql import Window

    from ocr_vector_db_spark.functions.vector import cosine_similarity_col

    l1df = df.sparkSession.createDataFrame(
        [(bid, [float(x) for x in v]) for bid, v in l1],
        "l1_id int, __l1_emb array<double>",
    )
    v = F.col(emb_col).cast("array<double>")
    if metric == "cosine":
        bscore = cosine_similarity_col(v, F.col("__l1_emb"))
        border = [F.desc("__b_sim"), F.col("l1_id")]
    elif metric == "l2":
        bscore = F.aggregate(
            F.zip_with(v, F.col("__l1_emb"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        border = [F.asc("__b_sim"), F.col("l1_id")]
    else:
        raise ValueError(f"unknown metric {metric!r} (cosine|l2)")
    wb = Window.partitionBy(part_col).orderBy(*border)
    return (
        df.crossJoin(F.broadcast(l1df))
        .withColumn("__b_sim", bscore)
        .withColumn("__brk", F.row_number().over(wb))
        .filter(F.col("__brk") <= branches)
        .drop("__l1_emb", "__b_sim", "__brk")
        .join(l2df, "l1_id")
    )


def assign_clusters_hier_df(
    df: DataFrame,
    l1: list[tuple[int, list[float]]],
    l2df: DataFrame,
    branches: int,
    emb_col: str = "embedding",
    metric: str = "cosine",
    keep_centroid: str | None = None,
) -> DataFrame:
    """df + cluster_id via a TWO-LEVEL quantizer, fully distributed — the
    engine under `IVFIndex.assign_clusters_hier` and IVFPQIndex's hier
    residual assignment:

      1. row × broadcast L1 (≈ √num_clusters rows — always tiny),
         row_number keeps each row's top-`branches` branches;
      2. equi-join against the parquet L2 centroid table on l1_id —
         a shuffle join that touches only the probed branches'
         centroid rows; NOTHING num_clusters-sized is broadcast,
         driver-ranked, or inlined into the plan;
      3. score the surviving (row, centroid) candidates with the same
         metric expressions as `assign_nearest_centroid`, window
         argmin per row.

    `keep_centroid` appends the winning centroid under that name (for
    residual encoding, no second join). branches ≥ |L1| considers every
    centroid — exactly the flat assignment (equality-tested)."""
    from pyspark.sql import Window

    from ocr_vector_db_spark.functions.vector import dot_col, norm_col

    reserved = {"__row_id", "__b_sim", "__brk", "__score", "__rk",
                "l1_id", "cluster_id", "centroid", "__l1_emb"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"assign_clusters_hier: df columns {sorted(clash)} collide "
            "with internal columns; rename them first"
        )
    v = F.col(emb_col).cast("array<double>")
    cand = hier_branch_candidates(
        df.withColumn("__row_id", F.monotonically_increasing_id()),
        l1, l2df, branches, "__row_id", emb_col, metric,
    )
    c = F.col("centroid")
    if metric == "cosine":
        cn = F.sqrt(F.aggregate(
            c, F.lit(0.0), lambda acc, x: acc + x * x
        ))
        # zero-norm guard, matching assign_nearest_centroid's `or 1.0`
        cn = F.when(cn != 0.0, cn).otherwise(F.lit(1.0))
        score = dot_col(v, c) / (norm_col(v) * cn)
        order = [F.desc("__score"), F.col("cluster_id")]
    elif metric == "l2":
        score = F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        order = [F.asc("__score"), F.col("cluster_id")]
    else:
        raise ValueError(f"unknown metric {metric!r} (cosine|l2)")
    w = Window.partitionBy("__row_id").orderBy(*order)
    out = [*df.columns, F.col("cluster_id").cast("int")]
    if keep_centroid is not None:
        out.append(F.col("centroid").alias(keep_centroid))
    return (
        cand.withColumn("__score", score)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(*out)
    )


class IVFIndex(PersistedIndex):
    GATE = "centroids.json"

    def __init__(self, spark: SparkSession, path: str,
                 centroids: list[tuple[int, list[float]]] | None = None,
                 l1: list[tuple[int, list[float]]] | None = None,
                 l2_to_l1: list[int] | None = None,
                 std_stats: list[tuple[float, float]] | None = None):
        super().__init__(spark, path)
        self.centroids = centroids or []
        # optional hierarchical coarse layer (see build(l1_branches=...)):
        # l1 = the branch centroids (≈ √num_clusters, always tiny);
        # l2_to_l1[cid] = the branch each cluster centroid belongs to
        self.l1 = l1 or []
        self.l2_to_l1 = l2_to_l1 or []
        # optional per-dimension (mu, sd) whitening profile (see
        # build(standardize=True)): when set, every vector entering the
        # index — layout, adds, queries, screens — passes through the SAME
        # standardize-and-renormalize transform, so the index serves
        # cosine in the whitened space symmetrically
        self.std_stats = std_stats or []

    # ------------------------------------------------- standardization seam

    def _std_df(self, df: DataFrame, emb_col: str) -> DataFrame:
        """Batch entry point: rewrite `emb_col` through the persisted
        profile (no-op for non-standardized indexes). Applied at every
        PUBLIC batch surface (add / dense_dropped_ids / screen_near_dups /
        recall baselines); internal helpers then see index-space vectors
        and never re-transform."""
        if not self.std_stats:
            return df
        from ocr_vector_db_spark.operators.embedding_prep import (
            with_standardized,
        )

        return with_standardized(df, emb_col, emb_col, self.std_stats)

    def _std_vec(self, v: list[float]) -> list[float]:
        """Query entry point — the driver twin of `_std_df` (bit-matches
        the layout transform, so a corpus member queries itself at 1.0)."""
        if not self.std_stats:
            return [float(x) for x in v]
        from ocr_vector_db_spark.operators.embedding_prep import standardize_vec

        return standardize_vec(v, self.std_stats)

    # --------------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        num_clusters: int,
        emb_col: str = "embedding",
        seed: int = 42,
        sample_fraction: float | None = None,
        max_iter: int = 20,
        l1_branches: int | None = None,
        standardize: bool = False,
    ) -> "IVFIndex":
        """Fit KMeans (optionally on a sample — at 100 TB you fit on ~1M
        sampled vectors, then assign everything in one distributed pass),
        write the corpus partitioned by cluster_id, persist centroids.

        `l1_branches`: also fit a HIERARCHICAL coarse layer — a seeded
        in-memory KMeans over the cluster centroids themselves (they are
        driver-resident by construction), giving a two-level quantizer à
        la IMI/hierarchical-kmeans. At the 100 TB target
        (num_clusters ≈ 180k), the flat forms hit two walls this layer
        removes: probe ranking compares the query to every one of 180k
        centroids (~10⁸ flops/query driver-side), and distributed
        assignment would broadcast a ~1.1 GB centroid table to every
        executor. With √-sized branches (≈ √180k ≈ 430), ranking costs
        |L1| + branches·(num_clusters/|L1|) comparisons and assignment
        joins a PARQUET centroid table partitioned by l1_id — nothing
        num_clusters-sized is ever broadcast or driver-looped. Probing
        all branches reproduces the flat ranking exactly (q115's
        invariant); fewer branches is the standard recall/latency knob
        ABOVE nprobe.

        `standardize`: whiten the corpus first (q120's per-dimension
        (v−mu)/sd + unit renorm, `operators/embedding_prep.py`) and
        persist the (mu, sd) profile WITH the index (`standardize.json`):
        the layout stores standardized vectors, and every public
        query/add/screen/recall entry applies the same profile
        symmetrically (`_std_df`/`_std_vec`), so callers keep handing in
        raw vectors. One extra dim-rows stats agg at build; at serve the
        transform folds into the query projection. Flag-off indexes carry
        no profile and behave byte-identically to before."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        std_stats: list[tuple[float, float]] = []
        if standardize:
            from ocr_vector_db_spark.operators.embedding_prep import (
                dim_stats,
                validate_std_stats,
                with_standardized,
            )

            std_stats = dim_stats(df, emb_col)
            validate_std_stats(std_stats)  # constant dims: fail loudly now
            df = with_standardized(df, emb_col, emb_col, std_stats)
        feat = df.withColumn("__f", array_to_vector(F.col(emb_col).cast("array<double>")))
        fit_on = feat.sample(sample_fraction, seed=seed) if sample_fraction else feat
        model = KMeans(
            k=num_clusters, seed=seed, maxIter=max_iter,
            featuresCol="__f", predictionCol="cluster_id",
        ).fit(fit_on)
        assigned = model.transform(feat).drop("__f")
        centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
        idx = cls._start_build(spark, path, centroids, std_stats=std_stats)
        idx._write("vectors", assigned, "cluster_id", build=True)
        if l1_branches:
            idx.l1, idx.l2_to_l1 = fit_hier_layer(
                spark, path, centroids, l1_branches, seed, max_iter
            )
        if std_stats:
            write_small_file(
                spark, os.path.join(path, "standardize.json"),
                json.dumps(std_stats).encode("utf-8"),
            )
        return idx._finish_build()

    def _gate(self):
        return self.centroids

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        centroids = [(int(i), v) for i, v in cls._read_gate(spark, path)]
        l1, l2_to_l1 = load_hier_layer(spark, path)
        std_stats: list[tuple[float, float]] = []
        std_path = os.path.join(path, "standardize.json")
        if fs_exists(spark, std_path):
            std_stats = [
                (float(m), float(s))
                for m, s in json.loads(read_small_file(spark, std_path))
            ]
        return cls(spark, path, centroids, l1, l2_to_l1, std_stats)

    # -------------------------------------------------------------- search

    def vectors(self) -> DataFrame:
        return self._read("vectors")

    def probe_clusters(
        self,
        query_vector: list[float],
        nprobe: int,
        branches: int | None = None,
    ) -> list[int]:
        """nprobe nearest cluster ids, (cosine desc, cluster_id) order.

        `branches` (hierarchical indexes only): rank the tiny L1 layer
        first and consider only clusters inside the top-`branches`
        branches — |L1| + branches·(num_clusters/|L1|) comparisons
        instead of num_clusters. branches ≥ |L1| reproduces the flat
        ranking exactly (every cluster is considered, same order).

        Takes a RAW vector (standardized indexes transform it here);
        internal callers that already hold an index-space vector use
        `_probe_clusters_idx`."""
        return self._probe_clusters_idx(
            self._std_vec(query_vector), nprobe, branches
        )

    def _probe_clusters_idx(
        self,
        query_vector: list[float],
        nprobe: int,
        branches: int | None = None,
    ) -> list[int]:
        cand = self.centroids
        if branches and self.l1:
            keep = set(rank_branches(self.l1, query_vector)[:branches])
            cand = [(cid, v) for cid, v in self.centroids
                    if self.l2_to_l1[cid] in keep]
        ranked = sorted(cand, key=lambda c: (-_cos(c[1], query_vector), c[0]))
        return [cid for cid, _ in ranked[:nprobe]]

    def centroids_l2_df(self) -> DataFrame:
        """The (l1_id, cluster_id, centroid) parquet table of a
        hierarchical index — the distributed-assignment side that replaces
        any num_clusters-sized broadcast."""
        return hier_centroids_df(self.spark, self.path)

    def assign_clusters_hier(
        self,
        df: DataFrame,
        branches: int,
        emb_col: str = "embedding",
        metric: str = "cosine",
    ) -> DataFrame:
        """df + cluster_id via the TWO-LEVEL quantizer, fully distributed:

          1. row × broadcast L1 (≈ √num_clusters rows — always tiny),
             row_number keeps each row's top-`branches` branches;
          2. equi-join against the parquet L2 centroid table on l1_id —
             a shuffle join that touches only the probed branches'
             centroid rows; NOTHING num_clusters-sized is broadcast,
             driver-ranked, or inlined into the plan;
          3. score the surviving (row, centroid) candidates with the same
             metric expressions as `assign_nearest_centroid`, window
             argmin per row.

        branches ≥ |L1| considers every centroid — exactly the flat
        assignment (equality-tested); smaller `branches` is the IMI-style
        approximation whose recall is measured like any nprobe knob.

        Takes RAW vectors (standardized indexes transform here — callers
        already holding index-space vectors, like `add`, go through
        `assign_clusters_hier_df` directly)."""
        if not self.l1:
            raise ValueError("not a hierarchical index (build with l1_branches)")
        return assign_clusters_hier_df(
            self._std_df(df, emb_col), self.l1, self.centroids_l2_df(),
            branches, emb_col=emb_col, metric=metric,
        )

    def search(
        self,
        query_vector: list[float],
        k: int,
        nprobe: int = 3,
        emb_col: str = "embedding",
        id_col: str = "vec_id",
        where=None,
        branches: int | None = None,
    ) -> DataFrame:
        """Pruned exact search: `cluster_id IN (...)` prunes parquet
        partitions (check .explain: PartitionFilters, not PushedFilters).

        `where` (a Column predicate) is the filtered-ANN combo pgvector runs
        as `WHERE metadata ... ORDER BY embedding <=> q LIMIT k`
        (retrieval/search.py:89-97's metadata filters): applied INSIDE the
        probed clusters, before scoring, so it row-group-skips/pushes down
        on the pruned scan. Note the pgvector caveat applies here too:
        filtering after cluster pruning can return < k rows when matches
        live outside the probed clusters — raise nprobe for selective
        filters.

        `branches` (hierarchical indexes): rank only the top-`branches`
        L1 branches' clusters when choosing probes — the second
        recall/latency knob above nprobe; see `probe_clusters`."""
        qv = self._std_vec(query_vector)  # raw → index space, ONCE
        probes = self._probe_clusters_idx(qv, nprobe, branches)
        pruned = self.vectors().filter(F.col("cluster_id").isin(probes))
        if where is not None:
            pruned = pruned.filter(where)
        return knn_brute_force(pruned, qv, k, emb_col=emb_col, id_col=id_col)

    def _probe_assignments(
        self,
        batch: DataFrame,
        nprobe: int | None,
        id_col: str,
        emb_col: str,
        branches: int | None = None,
    ) -> DataFrame:
        """(__b_id, __b_emb, cluster_id): each batch vector's top-`nprobe`
        clusters, distributed — batch × broadcast-centroid crossJoin ranked
        with the same (cosine desc, cluster_id) order as `probe_clusters`.
        `nprobe=None` assigns every cluster. Shared by `screen_near_dups`
        (store screen) and `dense_dropped_ids` (intra-batch pass).

        `branches` (hierarchical indexes): candidate clusters come from a
        broadcast-L1 ranking + an equi-join against the parquet L2
        centroid table instead of broadcasting every centroid — the same
        ceiling-clearing shape as `assign_clusters_hier`, here keeping
        top-`nprobe` instead of top-1. branches ≥ |L1| ≡ the flat form."""
        from ocr_vector_db_spark.operators.knn import SIM_PRECISION
        from ocr_vector_db_spark.functions.vector import cosine_similarity_col
        from pyspark.sql import Window

        nprobe = len(self.centroids) if nprobe is None else nprobe
        b = batch.select(
            F.col(id_col).alias("__b_id"), F.col(emb_col).alias("__b_emb")
        )
        w = Window.partitionBy("__b_id").orderBy(
            F.desc("__c_sim"), F.col("cluster_id")
        )
        if branches and self.l1:
            cand = hier_branch_candidates(
                b, self.l1, self.centroids_l2_df(), branches,
                "__b_id", "__b_emb",
            ).withColumnRenamed("centroid", "__c_emb")
        else:
            cent = batch.sparkSession.createDataFrame(
                [(cid, [float(x) for x in v]) for cid, v in self.centroids],
                "cluster_id int, __c_emb array<double>",
            )
            cand = b.crossJoin(F.broadcast(cent))
        return (
            cand.withColumn(
                "__c_sim",
                F.round(
                    cosine_similarity_col(F.col("__b_emb"), F.col("__c_emb")),
                    SIM_PRECISION,
                ),
            )
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= nprobe)
            .select("__b_id", "__b_emb", "cluster_id")
        )

    def dense_dropped_ids(
        self,
        batch: DataFrame,
        threshold: float,
        nprobe: int | None = 2,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        branches: int | None = None,
    ) -> DataFrame:
        """One column (`id_col`): batch ids with a LOWER-id near-dup in the
        SAME batch at cosine ≥ threshold — the dense sibling of
        `dedup.minhash_dropped_ids`, closing the dual-gate same-batch blind
        spot (two textually-unrelated but semantically-identical docs in
        one micro-batch: `screen_near_dups` sees only PREVIOUS batches, so
        without this pass both would be accepted).

        Blocked by the index's own centroids: each vector pairs only with
        batch-mates sharing one of its top-`nprobe` clusters — the same
        O(batch²/num_clusters) bound as any SemDeDup cluster block, never
        a raw batch² self-join. `nprobe=None` probes every cluster, making
        the pass EXACT all-pairs (the oracle-parity setting, q112);
        production keeps nprobe small — near-identical vectors rank their
        clusters near-identically, so true dups share a probed cluster.
        Keep-min convention (the survivor is the smallest id), matching
        every other dedup drop set."""
        from ocr_vector_db_spark.operators.knn import SIM_PRECISION
        from ocr_vector_db_spark.functions.vector import cosine_similarity_col

        batch = self._std_df(batch, emb_col)  # raw → index space
        if nprobe is None or nprobe >= len(self.centroids):
            # exact mode: ONE block — probing every cluster would replicate
            # each pair num_clusters times (same pairs, x32 the cosine work)
            probes = batch.select(
                F.col(id_col).alias("__b_id"),
                F.col(emb_col).alias("__b_emb"),
                F.lit(0).alias("cluster_id"),
            )
        else:
            probes = self._probe_assignments(
                batch, nprobe, id_col, emb_col, branches
            )
        a = probes.select(
            F.col("__b_id").alias("__ida"), F.col("__b_emb").alias("__emba"),
            "cluster_id",
        )
        b = probes.select(
            F.col("__b_id").alias("__idb"), F.col("__b_emb").alias("__embb"),
            "cluster_id",
        )
        sim = F.round(
            cosine_similarity_col(F.col("__emba"), F.col("__embb")),
            SIM_PRECISION,
        )
        return (
            a.join(b, "cluster_id")
            .filter(F.col("__ida") > F.col("__idb"))
            .filter(sim >= threshold)
            .select(F.col("__ida").alias(id_col))
            .distinct()
        )

    def screen_near_dups(
        self,
        batch: DataFrame,
        threshold: float,
        nprobe: int | None = None,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        branches: int | None = None,
    ) -> DataFrame:
        """(id_col, dup_of, similarity): each batch vector's nearest STORED
        vector, kept when similarity ≥ threshold — the embedding-level
        ingestion dedup gate (SemDeDup applied at ingest instead of over
        the resting corpus), the dense sibling of `MinHashIndex.screen`.

        Fully distributed, O(batch × probed-slice) — the batch is never
        driver-iterated and the stored layout never reshuffles:
          1. cluster assignment: batch × broadcast centroid table (tiny by
             construction), rank top-nprobe clusters per batch vector with
             the same (cosine desc, cluster_id) order as `probe_clusters`;
          2. pruned scoring: `knn_batch(k=1, block_col="cluster_id",
             ids_only=True)` over the partition-pruned cluster layout;
          3. threshold filter.
        `nprobe=None` probes every cluster, making the screen EXACT
        max-cosine against the store — q111's oracle-parity setting;
        production sets nprobe « num_clusters like any IVF serve (flags
        are then a subset of the exact screen's: a probed-slice neighbor
        that reaches the threshold reaches it globally too).

        `branches` (hierarchical indexes): candidate clusters per batch
        vector come from the broadcast-L1 ranking + L2 parquet join
        instead of broadcasting every centroid — the screen stays
        executor-bounded past the single-broadcast centroid ceiling.
        branches ≥ |L1| reproduces the flat assignment exactly."""
        from ocr_vector_db_spark.operators.knn import knn_batch

        batch = self._std_df(batch, emb_col)  # raw → index space
        probes = self._probe_assignments(batch, nprobe, id_col, emb_col,
                                         branches)
        top1 = knn_batch(
            self.vectors().select(id_col, "embedding", "cluster_id"),
            probes, 1, corpus_id=id_col, query_id="__b_id",
            query_emb="__b_emb", block_col="cluster_id", ids_only=True,
        )
        return top1.filter(F.col("similarity") >= threshold).select(
            F.col("__b_id").alias(id_col),
            F.col(id_col).alias("dup_of"),
            "similarity",
        )

    def _probe_rank(
        self, qdf: DataFrame, max_np: int, branches: int | None = None
    ) -> DataFrame:
        """(query_id, embedding, cluster_id, __rk): every query's clusters
        ranked 1..max_np executor-side — `probe_clusters`' (cosine desc,
        cluster_id) order as a broadcast crossJoin + window, for sweeps
        too large to rank on the driver. UNROUNDED cosine: both sides fold
        the dot/norm sums left-to-right in double, so the ordering (and
        hence every probe set) bit-matches the driver ranking.

        `branches` (hierarchical indexes): candidates come from the
        broadcast-L1 ranking + L2 parquet join (`probe_clusters`' hier
        path, distributed), so nothing num_clusters-sized is broadcast."""
        from ocr_vector_db_spark.functions.vector import cosine_similarity_col
        from pyspark.sql import Window

        if branches and self.l1:
            cand = hier_branch_candidates(
                qdf, self.l1, self.centroids_l2_df(), branches,
                "query_id", "embedding",
            ).withColumnRenamed("centroid", "__c_emb")
        else:
            cent = qdf.sparkSession.createDataFrame(
                [(cid, [float(x) for x in v]) for cid, v in self.centroids],
                "cluster_id int, __c_emb array<double>",
            )
            cand = qdf.crossJoin(F.broadcast(cent))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("__c_sim"), F.col("cluster_id")
        )
        return (
            cand.withColumn(
                "__c_sim",
                cosine_similarity_col(F.col("embedding"), F.col("__c_emb")),
            )
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= max_np)
            .select("query_id", "embedding", "cluster_id", "__rk")
        )

    def recall_at_k(
        self,
        corpus: DataFrame,
        queries: list[list[float]],
        k: int = 10,
        nprobe: int = 3,
        id_col: str = "vec_id",
    ) -> float:
        """Measured recall vs exact brute force — the tuning knob for
        (num_clusters, nprobe), standing in for pgvector's ef_search.

        Thin wrapper over `recall_sweep` — see there for the batched shape."""
        return self.recall_sweep(corpus, queries, k, [nprobe], id_col)[nprobe]

    def recall_sweep(
        self,
        corpus: DataFrame,
        queries: list[list[float]],
        k: int = 10,
        nprobes: list[int] | None = None,
        id_col: str = "vec_id",
        distributed_probes: bool = False,
        branches: int | None = None,
    ) -> dict[int, float]:
        """Recall@k for EVERY nprobe setting in one distributed pass.

        The exact baseline is ONE `knn_batch` over the corpus; the pruned
        side is ONE `knn_batch` over the index layout with each (setting,
        query) pair exploded to its probed clusters (`block_col` join, the
        setting encoded into the query id) — two Spark jobs TOTAL for the
        whole sweep, where a per-query driver loop ran 2·|queries|·|settings|
        (a tuning sweep over thousands of queries must be distributed, not
        driver-iterated). Both sides share `knn_batch`'s scoring expression
        and (sim desc, id) tie-break, so at nprobe = num_clusters the pruned
        side IS the baseline and recall is exactly 1.0 by construction —
        any deviation is a cluster-assignment or pruning bug.

        Probe ranking: by default driver-side over the in-memory centroid
        table (centroids fit by construction). `distributed_probes=True`
        swaps in the broadcast-crossJoin ranking `_probe_assignments`
        uses — ONE window ranks every (query, centroid) pair executor-side
        and each setting filters its rank prefix, so a 10⁵-query sweep
        never materializes |queries| × nprobe pairs in the driver.
        Identical probe sets (same (cosine desc, cluster_id) order;
        results equality is regression-tested).

        `branches` (hierarchical indexes): restrict every setting's probes
        to the top-`branches` L1 branches — at branches < |L1| the full
        probe is no longer exact (clusters outside the probed branches
        never score), so recall at nprobe = num_clusters measures the
        branch pruning itself; `branch_recall_sweep` sweeps that knob."""
        nprobes = sorted(set(nprobes or [3]))
        rec = self._settings_recall(
            corpus, queries, k, [(np_, branches) for np_ in nprobes],
            id_col, distributed_probes,
        )
        return {np_: rec[si] for si, np_ in enumerate(nprobes)}

    def branch_recall_sweep(
        self,
        corpus: DataFrame,
        queries: list[list[float]],
        k: int = 10,
        nprobe: int | None = None,
        branches_list: list[int] | None = None,
        id_col: str = "vec_id",
        distributed_probes: bool = False,
    ) -> dict[int, float]:
        """Recall@k for EVERY `branches` setting of a hierarchical index in
        one batched pass — the tuning sweep for the SECOND knob the
        two-level quantizer adds above nprobe (how many L1 branches to
        descend). `nprobe=None` probes every cluster the branch prefix
        reaches, isolating the branch-pruning loss: at branches = |L1| the
        candidate set is every cluster, so recall is exactly 1.0 by
        construction — the hier twin of `recall_sweep`'s full-probe
        invariant. Same two-job shape as `recall_sweep` (one exact
        baseline, one multi-setting pruned pass)."""
        if not self.l1:
            raise ValueError("not a hierarchical index (build with "
                             "l1_branches)")
        bl = sorted(set(branches_list or [1, len(self.l1)]))
        np_ = len(self.centroids) if nprobe is None else nprobe
        rec = self._settings_recall(
            corpus, queries, k, [(np_, b) for b in bl], id_col,
            distributed_probes,
        )
        return {b: rec[si] for si, b in enumerate(bl)}

    def _settings_recall(
        self,
        corpus: DataFrame,
        queries: list[list[float]],
        k: int,
        settings: list[tuple[int, int | None]],
        id_col: str,
        distributed_probes: bool,
    ) -> list[float]:
        """Recall@k per (nprobe, branches) setting, index-aligned with
        `settings`. ONE exact `knn_batch` baseline + ONE pruned `knn_batch`
        with every setting's probes unioned in — two Spark jobs total."""
        from ocr_vector_db_spark.operators.knn import knn_batch

        spark = corpus.sparkSession
        # standardized indexes: both sides of the recall compare move into
        # index space — the exact baseline scores the standardized corpus
        # (the layout IS that corpus, so full-probe recall stays 1.0 by
        # construction) and each query standardizes ONCE here (the probe
        # rankers below receive index-space vectors and never re-transform)
        corpus = self._std_df(corpus, "embedding")
        qrows = [(qi, self._std_vec(qv)) for qi, qv in enumerate(queries)]
        if not qrows:
            return [1.0] * len(settings)
        qschema = "query_id int, embedding array<double>"
        qdf = spark.createDataFrame(qrows, qschema)
        exact = knn_batch(
            corpus.select(id_col, "embedding"), qdf, k, corpus_id=id_col,
            ids_only=True,
        ).select("query_id", id_col).localCheckpoint()
        # the baseline row count only feeds the final division — overlap
        # it with the pruned pass's construction + collect (guide §2.6;
        # the checkpoint above has already materialized the data both
        # jobs read)
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        fut_total = pool.submit(exact.count)

        # qid' = setting * STRIDE + qi keeps one window partition per
        # (setting, query) through a single knn_batch call. Only SLIM
        # (qid', cluster_id) int pairs leave the driver — each query's
        # embedding ships ONCE in qdf and re-attaches via a broadcast
        # join, instead of being replicated |settings|×nprobe times
        # driver-side (a 10k-query × 3-setting × nprobe-64 sweep would
        # otherwise materialize ~2M full vectors in the driver).
        stride = len(qrows)
        if distributed_probes:
            # ONE ranking pass per DISTINCT branches value (the candidate
            # set depends only on branches): rank at the group's max
            # nprobe, then each member setting filters its rank prefix —
            # recall_sweep's settings share one branches value, so its
            # historical rank-once shape is preserved.
            by_branches: dict[int | None, list[tuple[int, int]]] = {}
            for si, (np_, br) in enumerate(settings):
                by_branches.setdefault(br, []).append((si, np_))
            pdf = None
            for br, members in by_branches.items():
                ranked = self._probe_rank(
                    qdf, max(np_ for _, np_ in members), branches=br
                )
                for si, np_ in members:
                    part = ranked.filter(F.col("__rk") <= np_).select(
                        (F.lit(si * stride) + F.col("query_id"))
                        .cast("int").alias("query_id"),
                        "cluster_id", "embedding",
                    )
                    pdf = part if pdf is None else pdf.unionByName(part)
        else:
            pairs = spark.createDataFrame(
                [
                    (si * stride + qi, cid)
                    for si, (np_, br) in enumerate(settings)
                    for qi, qv in qrows
                    for cid in self._probe_clusters_idx(qv, np_, br)
                ],
                "query_id int, cluster_id int",
            )
            pdf = (
                pairs.withColumn("__qi", F.col("query_id") % stride)
                .join(F.broadcast(qdf.withColumnRenamed("query_id", "__qi")),
                      "__qi")
                .drop("__qi")
            )
        approx = knn_batch(
            self.vectors().select(id_col, "embedding", "cluster_id"),
            pdf, k, corpus_id=id_col, block_col="cluster_id", ids_only=True,
        ).select(
            (F.col("query_id") % stride).alias("query_id"),
            F.floor(F.col("query_id") / stride).cast("int").alias("__si"),
            F.col(id_col),
        )
        try:
            hits = {
                r["__si"]: r["hits"]
                for r in exact.join(approx, ["query_id", id_col])
                .groupBy("__si").agg(F.count("*").alias("hits")).collect()
            }
            total = fut_total.result()
        finally:
            pool.shutdown(wait=False)
        return [
            hits.get(si, 0) / total if total else 1.0
            for si in range(len(settings))
        ]

    def _compaction(self):
        # each cluster partition to one file
        return (("vectors", "cluster_id", max(len(self.centroids), 1)),)

    # ------------------------------------------------------------ increment

    def add(
        self,
        df: DataFrame,
        emb_col: str = "embedding",
        id_col: str = "vec_id",
        assume_new: bool = False,
        branches: int | None = None,
    ) -> int:
        """Incremental index update: assign new vectors to their nearest
        EXISTING centroid (no re-clustering) and append into the partitioned
        layout. Centroid drift is handled by periodic rebuilds — the same
        lists-don't-move contract as pgvector's ivfflat.

        Re-add guard: `PersistedIndex._unindexed` (``assume_new`` skips
        it; per-epoch streaming adds delegate replay safety to
        `index_maint.EpochLedger`, as `stream_ingest_deduped` does).

        Assignment is the broadcast-centroid join + window argmin
        (`assign_nearest_centroid`) — constant-size plan at any
        num_clusters, where the previous chained-CASE-WHEN form broke
        Catalyst analysis at the ~180k-cluster 100 TB target. Passing
        `branches` on a hierarchical index routes through
        `assign_clusters_hier` instead (two-level: broadcast L1 + parquet
        L2 join) — past the ~GB centroid-broadcast budget, that is the
        only shape left; serve those vectors with the same `branches`.
        Single-writer contract. Returns the number of vectors added."""
        df = self._unindexed(self._std_df(df, emb_col), id_col,
                             self.vectors, assume_new)  # raw → index space
        if branches and self.l1:
            # df is already index-space: use the non-standardizing form
            # (the public assign_clusters_hier would transform again)
            assigned = assign_clusters_hier_df(
                df, self.l1, self.centroids_l2_df(), branches,
                emb_col=emb_col, metric="cosine",
            ).cache()
        else:
            assigned = assign_nearest_centroid(
                df, self.centroids, emb_col=emb_col, metric="cosine"
            ).cache()
        try:
            # materialize BEFORE the append: the anti-join above reads the
            # vectors path, so evaluating it afterwards would see the
            # batch's own rows and count 0 (same hazard as LexicalIndex)
            n = assigned.count()
            self._write("vectors", assigned, "cluster_id")
            return n
        finally:
            assigned.unpersist()
