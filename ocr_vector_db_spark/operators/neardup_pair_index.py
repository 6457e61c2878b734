"""Persisted near-dup PAIR index — the closure family's serving store.

`dedup.minhash_neardup_components` (q109/q110/q145) and the PageRank
centrality pass (q113) re-derive the same candidate-pair graph from raw
text on every call: shingle+md5 the corpus, collapse identical
signatures, band self-join. At 100 TB that graph changes only when
documents are ADDED, never per downstream query — a production dedup
pipeline persists its pair table once and serves components, family
histograms and centrality from it (the MinHashIndex rationale, one level
further down the pipeline). This operator is MinHashIndex's discipline
(build/add/compact, generation-committed layouts, single-writer) applied
to the GROUP-level pair graph. Layout under `path`:

  members/    (doc, sig_key)            append-only. sig_key = md5 of the
                                        16-slot signature — the identity
                                        `minhash_neardup_components`
                                        collapses on (32-byte key, not the
                                        ~240-byte raw signature).
  rep_sigs/   (sig_key, mh_0..mh_{K-1}) append-only, one row per DISTINCT
                                        signature (groups never change
                                        their signature).
  rep_bands/  (sig_key, band_id,        append-only, bucketed by
               band_hash, bucket)       pmod(xxhash64(band_hash)) exactly
                                        like MinHashIndex bands — add()'s
                                        new-vs-stored band join is
                                        co-partitioned by construction.
  pairs/      (key_a, key_b,            append-only: group-level candidate
               est_jaccard)             pairs, key_a < key_b (md5 hex is a
                                        total order). Keyed by sig_key, NOT
                                        by representative doc id — a rep is
                                        min(doc) of its group and can
                                        CHANGE when a lower-id doc joins;
                                        sig_key is stable, so no stored
                                        pair ever needs rewriting.

Group minima / sizes are NOT stored: `groups()` derives (sig_key, rep,
n_members) from the slim members table per serve — one small-key
aggregation, which keeps every stored table append-only and makes
add() exactly-once-free: a crash mid-add leaves at-most-duplicated
pairs/bands/rep_sigs rows (the retried add regenerates them — members,
the re-add guard key, is appended LAST), and every serving path
dropDuplicates() the pair table, the same duplicate-tolerance contract
as MinHashIndex.screen.

Exactness (regression-tested): build(A) + add(B) produces the same five
logical tables as build(A ∪ B); `components()` reproduces
`dedup.minhash_neardup_components` row-for-row (it shares the literal
closure tail, `dedup.components_from_collapsed`); `candidate_pairs()`
reproduces `dedup.minhash_lsh_candidates` by expanding group pairs
through the member map (cross-group pairs inherit the group est_jaccard
— it depends only on the two signatures — and identical-signature
members pair at est 1.0, agreeing on all slots).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.dedup import (
    banded_of,
    components_from_collapsed,
    minhash_signatures,
)
from ocr_vector_db_spark.operators.index_maint import PersistedIndex


def _sig_key_col(num_hashes: int):
    """The collapse identity of `minhash_neardup_components`: md5 over the
    \\x1f-joined signature slots (32-byte key instead of ~240 B raw)."""
    return F.md5(F.concat_ws("\x1f", *[f"mh_{i}" for i in range(num_hashes)]))


class NearDupPairIndex(PersistedIndex):
    META = ("num_hashes", "bands", "n", "n_buckets")

    def __init__(self, spark: SparkSession, path: str, num_hashes: int,
                 bands: int, n: int, n_buckets: int):
        super().__init__(spark, path)
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.n_buckets = n_buckets

    # --------------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        num_hashes: int = 16,
        bands: int = 4,
        n: int = 2,
        n_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "NearDupPairIndex":
        assert num_hashes % bands == 0
        idx = cls._start_build(spark, path, num_hashes, bands, n, n_buckets)
        # cache: members / rep_sigs / bands / pairs all derive from the one
        # shingle+hash pass — uncached it would run four times
        sig = (
            minhash_signatures(docs, num_hashes, n, text_col, id_col)
            .withColumn("sig_key", _sig_key_col(num_hashes))
            .cache()
        )
        try:
            sig.count()
            rep_sigs = sig.dropDuplicates(["sig_key"]).drop("doc")
            bands_df = idx._bands_of(rep_sigs)
            idx._write("members", sig.select("doc", "sig_key"), build=True)
            idx._write("rep_sigs", rep_sigs, build=True)
            idx._write("rep_bands", bands_df, "bucket", build=True)
            idx._write("pairs", idx._pairs_of(rep_sigs, bands_df), build=True)
        finally:
            sig.unpersist()
        return idx._finish_build()

    # ------------------------------------------------------------- plumbing

    def members(self) -> DataFrame:
        return self._read("members")

    def rep_sigs(self) -> DataFrame:
        return self._read("rep_sigs")

    # file-less layouts (an empty partitionBy write, or an empty pairs
    # table) read as the typed empty relation

    def bands_table(self) -> DataFrame:
        return self._read(
            "rep_bands",
            "sig_key string, band_id int, band_hash string, bucket bigint",
        )

    def pairs(self) -> DataFrame:
        return self._read(
            "pairs", "key_a string, key_b string, est_jaccard double"
        )

    def _bands_of(self, rep_sigs: DataFrame) -> DataFrame:
        """(sig_key, band_id, band_hash, bucket) — banded_of's ONE band
        layout keyed by signature identity instead of doc id."""
        return (
            banded_of(
                rep_sigs.withColumnRenamed("sig_key", "doc"),
                self.num_hashes, self.bands,
            )
            .withColumnRenamed("doc", "sig_key")
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("band_hash"), F.lit(self.n_buckets)),
            )
        )

    def _pairs_of(
        self,
        all_sigs: DataFrame,
        new_bands: DataFrame,
        all_bands: DataFrame | None = None,
    ) -> DataFrame:
        """Group-level candidate pairs with one side restricted to
        `new_bands` (build passes new == all). Same unordered pair set and
        the same est_jaccard arithmetic as
        `dedup.candidates_from_signatures`, keyed by sig_key."""
        x = new_bands.alias("x")
        y = (all_bands if all_bands is not None else new_bands).alias("y")
        cand = (
            x.join(y, ["bucket", "band_id", "band_hash"])
            .filter(F.col("x.sig_key") != F.col("y.sig_key"))
            .select(
                F.least("x.sig_key", "y.sig_key").alias("key_a"),
                F.greatest("x.sig_key", "y.sig_key").alias("key_b"),
            )
            .dropDuplicates(["key_a", "key_b"])
        )
        sig_a = all_sigs.select(
            F.col("sig_key").alias("key_a"),
            *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(self.num_hashes)],
        )
        sig_b = all_sigs.select(
            F.col("sig_key").alias("key_b"),
            *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(self.num_hashes)],
        )
        agree = sum(
            F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
            for i in range(self.num_hashes)
        )
        return (
            cand.join(sig_a, "key_a")
            .join(sig_b, "key_b")
            .withColumn(
                "est_jaccard",
                F.round(agree / F.lit(float(self.num_hashes)), 6),
            )
            .select("key_a", "key_b", "est_jaccard")
        )

    # ------------------------------------------------------------ increment

    def add(
        self,
        docs: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        assume_new: bool = False,
        sigs: DataFrame | None = None,
    ) -> int:
        """Append a batch (LexicalIndex/MinHashIndex.add parity: anti-join
        re-add guard, `assume_new` escape for EpochLedger-guarded streams,
        single-writer contract). Returns the number of docs added.
        Precomputed `sigs` (a `dedup.minhash_signatures` result) skip
        re-shingling.

        Only NEW signatures grow the pair graph: a batch doc whose
        signature already exists joins its group through the members
        append alone (its bands, and therefore its group's pairs, are
        already stored; its effect on the group minimum is re-derived by
        `groups()`). Append order is pairs → bands → rep_sigs → members:
        members is the re-add guard key, so a crash anywhere earlier makes
        the retry regenerate (duplicate) pair/band/sig rows — which every
        reader dedups — never lose rows or double-count members."""
        sig = sigs if sigs is not None else minhash_signatures(
            docs, self.num_hashes, self.n, text_col, id_col
        )
        sig = sig.withColumn("sig_key", _sig_key_col(self.num_hashes))
        sig = self._unindexed(sig, "doc", self.members, assume_new).cache()
        new_rep = None
        try:
            n = sig.count()  # materialize before any append (self-read)
            if n == 0:
                return 0
            new_rep = (
                sig.dropDuplicates(["sig_key"]).drop("doc")
                .join(
                    self.rep_sigs().select("sig_key"), "sig_key", "left_anti"
                )
                .cache()
            )
            new_rep.count()  # materialize before the rep_sigs append
            new_bands = self._bands_of(new_rep)
            all_bands = self.bands_table().unionByName(new_bands)
            all_sigs = self.rep_sigs().unionByName(new_rep)
            new_pairs = self._pairs_of(all_sigs, new_bands, all_bands)
            self._write("pairs", new_pairs)
            self._write("rep_bands", new_bands, "bucket")
            self._write("rep_sigs", new_rep)
            self._write("members", sig.select("doc", "sig_key"))
            return n
        finally:
            sig.unpersist()
            if new_rep is not None:
                new_rep.unpersist()

    # ---------------------------------------------------------- maintenance

    def _compaction(self):
        small = max(self.n_buckets // 4, 1)
        return (("rep_bands", "bucket", self.n_buckets),
                ("pairs", None, small), ("rep_sigs", None, small),
                ("members", None, small))

    # -------------------------------------------------------------- serving

    def groups(self) -> DataFrame:
        """(sig_key, rep, n_members) derived from the members table — rep =
        min doc id of the identical-signature group, exactly the collapse
        map of `minhash_neardup_components`."""
        return self.members().groupBy("sig_key").agg(
            F.min("doc").alias("rep"), F.count("*").alias("n_members")
        )

    def pair_graph(self, groups: DataFrame | None = None) -> DataFrame:
        """(doc_a, doc_b, est_jaccard) over group REPRESENTATIVES — the
        collapsed graph the closure engines consume. Reader-side
        dropDuplicates absorbs crash-retry duplicate appends."""
        g = groups if groups is not None else self.groups()
        p = self.pairs().dropDuplicates(["key_a", "key_b"])
        return (
            p.join(
                g.select(F.col("sig_key").alias("key_a"),
                         F.col("rep").alias("doc_a")), "key_a")
            .join(
                g.select(F.col("sig_key").alias("key_b"),
                         F.col("rep").alias("doc_b")), "key_b")
            .select("doc_a", "doc_b", "est_jaccard")
        )

    def components(self, threshold: float = 0.5, cc: str = "star") -> DataFrame:
        """(doc_id, component_id, is_canonical) — row-for-row
        `dedup.minhash_neardup_components(collapse_identical=True)` served
        from the stored graph: shares its literal closure tail
        (`components_from_collapsed`); only the signature derivation is
        replaced by index reads. The closure itself (checkpointed fixpoint
        rounds) still executes per call — pair storage amortizes candidate
        GENERATION, never the clustering."""
        # one cache entry per logical plan (identical across calls — the
        # minhash_neardup_components convention): both the member map and
        # the pair endpoints read the same small groups aggregate
        g = self.groups()
        if not g.storageLevel.useMemory:
            g = g.cache()
        member = (
            self.members().join(g, "sig_key")
            .select("doc", "rep", "n_members")
        )
        return components_from_collapsed(
            member, self.pair_graph(groups=g), threshold, cc
        )

    def candidate_pairs(self) -> DataFrame:
        """UNCOLLAPSED (doc_a, doc_b, est_jaccard): exactly
        `dedup.minhash_lsh_candidates` over the indexed corpus — group
        pairs expand through the member map (est_jaccard depends only on
        the two signatures, so every cross pair inherits it) and
        identical-signature members pair at est 1.0 (all slots agree).
        The within-group m² expansion is inherent to the uncollapsed
        contract (q113's PageRank needs every edge); consumers that can
        work collapsed should use `pair_graph`/`components`."""
        m = self.members()
        p = self.pairs().dropDuplicates(["key_a", "key_b"])
        cross = (
            p.join(m.select(F.col("sig_key").alias("key_a"),
                            F.col("doc").alias("__da")), "key_a")
            .join(m.select(F.col("sig_key").alias("key_b"),
                           F.col("doc").alias("__db")), "key_b")
            .select(
                F.least("__da", "__db").alias("doc_a"),
                F.greatest("__da", "__db").alias("doc_b"),
                "est_jaccard",
            )
        )
        within = (
            m.alias("x").join(m.alias("y"), "sig_key")
            .filter(F.col("x.doc") < F.col("y.doc"))
            .select(
                F.col("x.doc").alias("doc_a"),
                F.col("y.doc").alias("doc_b"),
                F.lit(1.0).alias("est_jaccard"),
            )
        )
        return cross.unionByName(within)
