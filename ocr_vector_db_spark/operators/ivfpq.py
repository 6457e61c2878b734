"""IVF-PQ: partition-pruned probing over PQ-compressed residual codes.

The composition FAISS ships as `IndexIVFPQ`, rebuilt the columnar way. At
100 TB neither half suffices alone: IVF (`operators/ann_index.py`) prunes
*reads* to nprobe/num_clusters of the bytes but still stores 3 KB/vector;
PQ (`operators/pq.py`) compresses ~32-384x but still scans every code. The
combination stores residual codes partitioned by cluster:

  build:  KMeans coarse quantizer (MLlib, fit on a bounded sample) assigns
          every vector a cluster_id; the PQ codebook is trained on
          RESIDUALS (vector - its centroid) — residuals have far lower
          variance than raw vectors, so the same codebook budget buys a
          much finer quantization (Jegou et al., "Product Quantization for
          Nearest Neighbor Search", TPAMI 2011);
  store:  (id, cluster_id, pq_codes) parquet PARTITIONED BY cluster_id —
          ~M bytes/vector of scannable state; raw vectors stay only in the
          base table for optional re-rank;
  search: rank centroids driver-side, then ONE partition-pruned scan job:
          per probed cluster the query residual's MxK distance table is
          computed on the driver and shipped as a broadcast DataFrame
          joined on cluster_id, so the scan is M element_at lookups + adds
          per row (whole-stage codegen, no UDF, no shuffle) and the plan
          stays constant-size at production (nprobe, m, k); global top-k
          via TakeOrderedAndProject.
  refine: optional exact re-rank of the top k*refine candidates against the
          raw corpus — candidate ids are collected (<= k*refine <= a few
          hundred) and pushed down as an `IN` filter, so the exact pass
          reads only matching row groups.

Reference tie-in: pgvector's ivfflat (lists, probes) knobs
(storage/schema.py:38-41) plus the HNSW storage/recall trade
(storage/schema.py:80-85), served as a batch-built layout instead of an
online graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.ann_index import IVFIndex, _cos
from ocr_vector_db_spark.operators.index_maint import PersistedIndex
from ocr_vector_db_spark.operators.knn import knn_brute_force
from ocr_vector_db_spark.operators.pq import PQIndex


class IVFPQIndex(PersistedIndex):
    """Coarse KMeans quantizer + per-subspace PQ codebook over residuals."""

    def __init__(self, spark: SparkSession, path: str,
                 centroids: list[tuple[int, list[float]]], pq: PQIndex,
                 l1: list[tuple[int, list[float]]] | None = None,
                 l2_to_l1: list[int] | None = None,
                 std_stats: list[tuple[float, float]] | None = None):
        super().__init__(spark, path)
        self.centroids = centroids
        self.pq = pq
        # optional hierarchical coarse layer — IVFIndex parity (same
        # hier.json + centroids_l2 parquet layout via fit_hier_layer)
        self.l1 = l1 or []
        self.l2_to_l1 = l2_to_l1 or []
        # optional whitening profile — IVFIndex(standardize=True) parity:
        # layout/queries/adds all pass through the same (mu, sd) transform
        self.std_stats = std_stats or []

    # ------------------------------------------------- standardization seam
    # IVFIndex parity: public entries (search / search_batch / add /
    # probe_clusters / recall_at_k) transform RAW inputs through the
    # persisted profile; internal helpers then see index-space vectors.

    def _std_df(self, df: DataFrame, emb_col: str) -> DataFrame:
        if not self.std_stats:
            return df
        from ocr_vector_db_spark.operators.embedding_prep import (
            with_standardized,
        )

        return with_standardized(df, emb_col, emb_col, self.std_stats)

    def _std_vec(self, v: list[float]) -> list[float]:
        if not self.std_stats:
            return [float(x) for x in v]
        from ocr_vector_db_spark.operators.embedding_prep import (
            standardize_vec,
        )

        return standardize_vec(v, self.std_stats)

    # --------------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        dim: int,
        num_clusters: int = 8,
        m: int = 8,
        k: int = 16,
        emb_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        sample_fraction: float | None = None,
        sample_limit: int = 65536,
        l1_branches: int | None = None,
        standardize: bool = False,
    ) -> "IVFPQIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        std_stats: list[tuple[float, float]] = []
        if standardize:
            # whiten BEFORE the coarse quantizer so both quantization
            # levels (and the residual codebooks) live in the same space
            # the queries will be transformed into — IVFIndex parity
            from ocr_vector_db_spark.operators.embedding_prep import (
                dim_stats,
                validate_std_stats,
                with_standardized,
            )

            std_stats = dim_stats(df, emb_col)
            validate_std_stats(std_stats)  # constant dims: fail loudly now
            df = with_standardized(df, emb_col, emb_col, std_stats)
        feat = df.withColumn(
            "__f", array_to_vector(F.col(emb_col).cast("array<double>"))
        )
        fit_on = feat.sample(sample_fraction, seed=seed) if sample_fraction else feat
        model = KMeans(
            k=num_clusters, seed=seed, featuresCol="__f", predictionCol="cluster_id"
        ).fit(fit_on)
        centroids = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]

        # residual = vector - centroid[cluster_id]; the centroid table is a
        # broadcast join (num_clusters rows), the subtraction a zip_with.
        cent_df = spark.createDataFrame(
            [(cid, vec) for cid, vec in centroids], ["cluster_id", "__centroid"]
        )
        assigned = (
            model.transform(feat)
            .drop("__f")
            .join(F.broadcast(cent_df), "cluster_id")
            .withColumn(
                "__residual",
                F.zip_with(
                    F.col(emb_col).cast("array<double>"),
                    F.col("__centroid").cast("array<double>"),
                    lambda a, b: a - b,
                ),
            )
            .drop("__centroid")
        )

        pq = PQIndex.train(
            assigned, dim, m=m, k=k, emb_col="__residual", seed=seed,
            sample_limit=sample_limit,
        )
        codes = assigned.select(
            id_col,
            "cluster_id",
            pq.encode_col(F.col("__residual")).alias("pq_codes"),
        )
        idx = cls._start_build(spark, path, centroids, pq,
                               std_stats=std_stats)
        idx._write("codes", codes, "cluster_id", build=True)
        if l1_branches:
            from ocr_vector_db_spark.operators.ann_index import fit_hier_layer

            idx.l1, idx.l2_to_l1 = fit_hier_layer(
                spark, path, centroids, l1_branches, seed
            )
        return idx._finish_build()

    def _gate(self):
        return {"dim": self.pq.dim, "m": self.pq.m,
                "centroids": self.centroids, "codebooks": self.pq.codebooks,
                "std_stats": self.std_stats}

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFPQIndex":
        from ocr_vector_db_spark.operators.ann_index import load_hier_layer

        meta = cls._read_gate(spark, path)
        pq = PQIndex(meta["dim"], meta["m"], meta["codebooks"])
        centroids = [(int(i), v) for i, v in meta["centroids"]]
        l1, l2_to_l1 = load_hier_layer(spark, path)
        std_stats = [
            (float(m_), float(s_)) for m_, s_ in meta.get("std_stats", [])
        ]
        return cls(spark, path, centroids, pq, l1, l2_to_l1, std_stats)

    # ------------------------------------------------------------ increment

    def _residual_codes(self, df: DataFrame, emb_col: str, id_col: str,
                        branches: int | None = None) -> DataFrame:
        """(id, cluster_id, pq_codes) for new vectors against the FROZEN
        quantizers: nearest existing centroid by squared L2 (the metric the
        coarse KMeans assigned with), residual encoded with the existing
        codebooks — shared by add(); build() trains fresh quantizers.

        Assignment is `assign_nearest_centroid(metric="l2")` — broadcast
        join + window argmin, constant-size plan at any num_clusters (the
        chained-CASE-WHEN form this replaces broke Catalyst analysis at
        the 180k-cluster 100 TB target); the winning centroid rides along
        so the residual needs no second join. `branches` (hierarchical
        indexes) swaps in `assign_clusters_hier_df` — broadcast-L1 + L2
        parquet join, clearing the full-centroid broadcast past the same
        180k target; branches ≥ |L1| ≡ the flat assignment."""
        from ocr_vector_db_spark.operators.ann_index import (
            assign_clusters_hier_df,
            assign_nearest_centroid,
            hier_centroids_df,
        )

        if branches and self.l1:
            assigned = assign_clusters_hier_df(
                df, self.l1, hier_centroids_df(self.spark, self.path),
                branches, emb_col=emb_col, metric="l2",
                keep_centroid="__centroid",
            )
        else:
            assigned = assign_nearest_centroid(
                df, self.centroids, emb_col=emb_col, metric="l2",
                keep_centroid="__centroid",
            )
        v = F.col(emb_col).cast("array<double>")
        return (
            assigned
            .withColumn(
                "__residual",
                F.zip_with(v, F.col("__centroid").cast("array<double>"),
                           lambda a, b: a - b),
            )
            .select(
                id_col, "cluster_id",
                self.pq.encode_col(F.col("__residual")).alias("pq_codes"),
            )
        )

    def add(
        self,
        df: DataFrame,
        emb_col: str = "embedding",
        id_col: str = "vec_id",
        assume_new: bool = False,
        branches: int | None = None,
    ) -> int:
        """Incremental index update with FROZEN quantizers — the ivfflat
        lists-don't-move contract applied twice: coarse centroids AND the
        residual codebooks stay fixed (periodic rebuild handles drift),
        so an added vector's ADC distances stay comparable with the
        existing codes. Assign nearest existing centroid, encode the
        residual, append into the cluster-partitioned layout.

        Re-add guard and ``assume_new``: IVFIndex.add parity.
        Single-writer contract. Returns the number of vectors added."""
        df = self._unindexed(self._std_df(df, emb_col), id_col, self.codes,
                             assume_new)  # raw → index space
        codes = self._residual_codes(df, emb_col, id_col, branches).cache()
        try:
            # materialize BEFORE the append: the anti-join above reads the
            # codes path (same self-read hazard as IVFIndex.add)
            n = codes.count()
            self._write("codes", codes, "cluster_id")
            return n
        finally:
            codes.unpersist()

    def _compaction(self):
        # each cluster partition to one file
        return (("codes", "cluster_id", max(len(self.centroids), 1)),)

    # -------------------------------------------------------------- search

    def codes(self) -> DataFrame:
        return self._read("codes")

    def probe_clusters(self, query: list[float], nprobe: int,
                       branches: int | None = None) -> list[int]:
        """nprobe nearest cluster ids, (cosine desc, cluster_id) order —
        `IVFIndex.probe_clusters` parity incl. the hier `branches` knob
        (rank the tiny L1 first, consider only its top branches'
        clusters; branches ≥ |L1| ≡ the flat ranking).

        Takes a RAW vector (standardized indexes transform it here);
        internal callers holding an index-space vector use
        `_probe_clusters_idx`."""
        return self._probe_clusters_idx(self._std_vec(query), nprobe,
                                        branches)

    def _probe_clusters_idx(self, query: list[float], nprobe: int,
                            branches: int | None = None) -> list[int]:
        cand = self.centroids
        if branches and self.l1:
            from ocr_vector_db_spark.operators.ann_index import rank_branches

            keep = set(rank_branches(self.l1, query)[:branches])
            cand = [(cid, v) for cid, v in self.centroids
                    if self.l2_to_l1[cid] in keep]
        ranked = sorted(cand, key=lambda c: (-_cos(c[1], query), c[0]))
        return [cid for cid, _ in ranked[:nprobe]]

    def _residual_tables(self, query: list[float], cid: int) -> list[list[float]]:
        centroid = dict(self.centroids)[cid]
        resid = [q - c for q, c in zip(query, centroid)]
        return self.pq.distance_tables(resid)

    def search(
        self,
        query: list[float],
        k: int,
        nprobe: int = 2,
        id_col: str = "vec_id",
        corpus: DataFrame | None = None,
        emb_col: str = "embedding",
        refine: int = 4,
        branches: int | None = None,
    ) -> DataFrame:
        """Approximate top-k; pass `corpus` to exact-re-rank k*refine heads.
        `branches` (hierarchical indexes): probe ranking descends only the
        top L1 branches — `IVFIndex.search` parity.

        One job: ONE partition-pruned scan of the probed clusters, scoring
        against the per-cluster ADC distance tables shipped as a BROADCAST
        DataFrame keyed by cluster_id — the table transport scales as a
        ~2 MB broadcast at the production setting (nprobe=64, m=16, k=256)
        where the inlined-literal form this replaces put ~260k literals
        into one Catalyst plan. The per-row arithmetic is unchanged: m
        element_at lookups + adds, whole-stage codegen, no UDF, no
        shuffle. Distances across clusters are comparable because every
        table measures the same thing — squared L2 of (query - centroid_c)
        to the shared residual codebook."""
        query = self._std_vec(query)  # raw → index space, ONCE
        probes = self._probe_clusters_idx(query, nprobe, branches)
        tdf = self.spark.createDataFrame(
            [(cid, self._residual_tables(query, cid)) for cid in probes],
            "cluster_id int, __tables array<array<double>>",
        )
        expr = F.lit(0.0)
        for mi in range(self.pq.m):
            expr = expr + F.element_at(
                F.element_at(F.col("__tables"), mi + 1),
                F.element_at(F.col("pq_codes"), mi + 1) + 1,
            )
        scored = (
            self.codes()
            .filter(F.col("cluster_id").isin(probes))
            .join(F.broadcast(tdf), "cluster_id")
            .select(id_col, "cluster_id", F.round(expr, 6).alias("pq_distance"))
        )

        if corpus is None:
            return scored.orderBy("pq_distance", id_col).limit(k)
        cand_ids = [
            r[id_col]
            for r in scored.orderBy("pq_distance", id_col).limit(k * refine).collect()
        ]
        cand = self._std_df(corpus.filter(F.col(id_col).isin(cand_ids)),
                            emb_col)
        return knn_brute_force(cand, query, k, emb_col=emb_col, id_col=id_col)

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 2,
        id_col: str = "vec_id",
        query_id: str = "query_id",
        query_emb: str = "embedding",
        corpus: DataFrame | None = None,
        corpus_emb: str = "embedding",
        refine: int = 4,
        branches: int | None = None,
    ) -> DataFrame:
        """Top-k per query over the compressed layout — MANY queries, ONE
        plan (`knn_batch`'s role for the IVF-PQ tier). `search` serves a
        single query with driver-computed tables; a serving tier batching
        thousands of queries must not loop driver-built plans, so here
        every stage is executor-side:

          1. probe ranking: queries × broadcast centroid table, row_number
             top-nprobe per query — `probe_clusters`' exact (cosine desc,
             cluster_id) order, computed distributed;
          2. ADC tables per (query, cluster) pair: the residual zip_withs
             the joined centroid, each subspace's K distances evaluate
             against the LITERAL codebook (the same constant-size m·k·w
             HOF expressions `encode_col` uses) — bit-identical values to
             `search`'s driver-computed tables (equality-tested);
          3. scoring: ONE pruned codes scan broadcast-joins the slim
             (query_id, cluster_id, tables) pairs on cluster_id; per row
             the distance is m element_at lookups, same fold order as
             `search`, so distances are bit-identical;
          4. per-query top-k: rank window over the slim
             (query_id, id, distance) projection (partial WindowGroupLimit
             bounds each partition before the exchange, knn_batch's shape);
          5. optional batched exact refine: the ≤ |Q|·k·refine heads
             broadcast back onto the raw corpus (one scan for ALL queries,
             vs `search`'s per-query id-pushdown), exact cosine against
             the query embedding re-attached AFTER the rank window — the
             embedding never rides through the scoring shuffle.

        Broadcast budget: |Q|·nprobe·(m·k·8 B) for the tables pairs —
        ~1.6 MB at (Q=100, nprobe=8, m=8, k=16), ~200 MB at the extreme
        (Q=100, nprobe=64, m=16, k=256); beyond that, shard the query
        batch (each shard is this same one-plan call). `branches`
        (hierarchical indexes): stage 1's candidates come from the
        broadcast-L1 ranking + L2 parquet join instead of a full-centroid
        broadcast — the same ceiling-clearing shape as
        `IVFIndex._probe_assignments`; branches ≥ |L1| ≡ flat. Returns
        (query_id, id_col, pq_distance|similarity, rank)."""
        from pyspark.sql import Window

        from ocr_vector_db_spark.functions.vector import cosine_similarity_col
        from ocr_vector_db_spark.operators.knn import SIM_PRECISION
        from ocr_vector_db_spark.operators.pq import PQIndex, _sub_slices

        spark = queries.sparkSession
        queries = self._std_df(queries, query_emb)  # raw → index space
        q = queries.select(
            F.col(query_id),
            F.col(query_emb).cast("array<double>").alias("__q_emb"),
        )
        if branches and self.l1:
            # hierarchical candidate generation (shared with IVFIndex):
            # broadcast-L1 ranking + L2 parquet join — nothing
            # num_clusters-sized ships. branches >= |L1| == the flat form.
            from ocr_vector_db_spark.operators.ann_index import (
                hier_branch_candidates,
                hier_centroids_df,
            )

            cand = hier_branch_candidates(
                q, self.l1, hier_centroids_df(self.spark, self.path),
                branches, query_id, "__q_emb",
            ).withColumnRenamed("centroid", "__c_emb")
        else:
            cent = spark.createDataFrame(
                [(cid, [float(x) for x in v]) for cid, v in self.centroids],
                "cluster_id int, __c_emb array<double>",
            )
            cand = q.crossJoin(F.broadcast(cent))
        wp = Window.partitionBy(query_id).orderBy(
            F.desc("__c_sim"), F.col("cluster_id")
        )
        pairs = (
            cand.withColumn(
                "__c_sim",
                cosine_similarity_col(F.col("__q_emb"), F.col("__c_emb")),
            )
            .withColumn("__rk", F.row_number().over(wp))
            .filter(F.col("__rk") <= nprobe)
            .withColumn(
                "__resid",
                F.zip_with(F.col("__q_emb"), F.col("__c_emb"),
                           lambda a, b: a - b),
            )
        )

        def _tbl(mi: int, start: int, width: int) -> str:
            # one generated-SQL parse for the m per-subspace ADC tables
            # (q66's finding, same as encode_col): the per-Column form
            # cost ~0.6 s of Py4J lambda machinery per plan construction;
            # the parsed tree (slice → zip_with squared-diff fold →
            # transform over the literal codebook) is PQIndex._dist2's
            # identical expression shape and float-op order.
            sub = f"slice(`__resid`, {start}, {width})"
            return (
                f"transform({self.pq._codebook_sql(mi)}, "
                f"c -> aggregate(zip_with({sub}, c, "
                f"(a, b) -> (a - b) * (a - b)), 0.0D, "
                f"(acc, x) -> acc + x))"
            )

        tables = F.expr("array(" + ",".join(
            _tbl(mi, start, width)
            for mi, (start, width) in enumerate(_sub_slices(self.pq.dim, self.pq.m))
        ) + ")")
        probe_tables = pairs.select(
            F.col(query_id), F.col("cluster_id"), tables.alias("__tables")
        )
        expr = F.lit(0.0)
        for mi in range(self.pq.m):
            expr = expr + F.element_at(
                F.element_at(F.col("__tables"), mi + 1),
                F.element_at(F.col("pq_codes"), mi + 1) + 1,
            )
        scored = (
            self.codes()
            .join(F.broadcast(probe_tables), "cluster_id")
            .select(
                F.col(query_id), F.col(id_col),
                F.round(expr, 6).alias("pq_distance"),
            )
        )
        head_n = k if corpus is None else k * refine
        wk = Window.partitionBy(query_id).orderBy("pq_distance", F.col(id_col))
        heads = scored.withColumn("rank", F.row_number().over(wk)).filter(
            F.col("rank") <= head_n
        )
        if corpus is None:
            return heads
        cand = heads.select(query_id, id_col).join(F.broadcast(q), query_id)
        corpus = self._std_df(corpus, corpus_emb)
        joined = corpus.withColumnRenamed(corpus_emb, "__corpus_emb").join(
            F.broadcast(cand), id_col
        )
        sim = F.round(
            cosine_similarity_col(F.col("__corpus_emb"), F.col("__q_emb")),
            SIM_PRECISION,
        )
        wr = Window.partitionBy(query_id).orderBy(
            F.desc("similarity"), F.col(id_col)
        )
        return (
            joined.withColumn("similarity", sim)
            .select(query_id, id_col, "similarity")
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
        )

    def recall_at_k(
        self,
        corpus: DataFrame,
        queries: list[list[float]],
        k: int = 10,
        nprobe: int = 2,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        refine: int = 4,
    ) -> float:
        """Test-instrumentation recall (per-query loop — see
        `PQIndex.recall_at_k`; the distributed sweep form lives on
        `IVFIndex.recall_sweep`)."""
        hits = total = 0
        # standardized indexes: the exact baseline moves into index space
        # (search transforms its own inputs, so raw corpus/queries pass in)
        exact_corpus = self._std_df(corpus, emb_col)
        for qv in queries:
            exact = {
                r[id_col]
                for r in knn_brute_force(exact_corpus, self._std_vec(qv), k,
                                         emb_col=emb_col,
                                         id_col=id_col).collect()
            }
            approx = {
                r[id_col]
                for r in self.search(qv, k, nprobe, id_col=id_col, corpus=corpus,
                                     emb_col=emb_col, refine=refine).collect()
            }
            hits += len(exact & approx)
            total += len(exact)
        return hits / total if total else 1.0

    def bytes_per_vector(self) -> tuple[int, float]:
        """(compressed, raw) scannable bytes per vector."""
        raw = self.pq.dim * 4
        coded = self.pq.m * (1 if self.pq.k <= 256 else 2)
        return coded, float(raw)
