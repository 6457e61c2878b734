"""Persisted cardinality sketches — HyperLogLog registers as an index.

The quality/metrics paths (q01/q13, reference `database/repository.py`'s
COUNT(DISTINCT …) stats) answer "how many distinct X" by shuffling the
full key set. At 100 TB that is the wrong primitive for monitoring-grade
questions ("how big is the token vocabulary", "how many unique doc
fingerprints per collection"): a HyperLogLog sketch answers them with
m = 2^p integer registers — a fixed few KB of state — built in ONE
map-side-combinable aggregation (the groupBy key space IS the register
space, so every task reduces its partition to ≤ m rows before the
shuffle), mergeable across collections/epochs by a per-bucket MAX, and
incrementally updatable without touching the corpus again.

Flajolet et al., "HyperLogLog: the analysis of a near-optimal cardinality
estimation algorithm" (AofA 2007), with the classic 64-bit-hash variant:

  h      = first 16 hex chars of md5(key)      (64 bits, engine-portable)
  bucket = first p bits                         (p ∈ {4,8,12,16}: hex-aligned)
  rho    = leading-zero count of the remaining 64-p bits, + 1
  register[bucket] = MAX(rho);  E = alpha_m * m^2 / sum_j 2^(-r_j)
  small-range (E <= 2.5m, V empty registers > 0): E = m * ln(m / V)

Everything is md5 + substring + regexp arithmetic, no engine-specific
hashing, so a DuckDB oracle reproduces the registers BIT-FOR-BIT (q128):
rho comes from hex-character arithmetic (leading '0' chars x 4 + a
16-way nibble table), and the harmonic sum is carried as the EXACT
integer sum(2^(rho_max - r)) in DECIMAL(38,0) — order-independent, so
Spark's partial aggregation cannot shift it — with one double division
at the end. The estimate is a double; registers, V, and the scaled sum
are integers and compare exactly.

Persistence mirrors the other index families (generation pointers,
reader-atomic swap — operators/index_maint.py): registers/ holds ≤ m
rows, meta.json pins p. `add` folds a batch by per-bucket MAX and
publishes a NEW generation (the register table is KBs; rewrite is the
cheap, correct move — no append/compact cycle needed). `merge` is the
same fold across sketches, the union/intersection workhorse for
per-collection sketches.

Scale: build/add shuffle ≤ m rows after map-side combine regardless of
corpus size; summary/estimate aggregate ≤ m rows. Nothing here is
corpus-sized after the first projection.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_vector_db_spark.operators.index_maint import (
    PersistedIndex,
    fs_exists,
    read_small_file,
    write_small_file,
)

_HEX = "0123456789abcdef"


def _nibble_lz(first: Column) -> Column:
    """Leading zero bits of a NON-ZERO hex digit character."""
    return (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )


def hll_bucket_rho(key: Column, p: int) -> tuple[Column, Column, int]:
    """(bucket, rho, rho_max) for one key column under precision p.

    p must be a multiple of 4 (bucket = whole hex chars) so the DuckDB
    twin can split the same md5 string at the same character offsets.
    """
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be in {{4, 8, 12, 16}}, got {p}")
    bchars = p // 4
    rchars = 16 - bchars  # 64-bit hash: 16 hex chars total
    rho_max = 4 * rchars + 1
    h = F.md5(key.cast("string"))
    bucket = F.conv(F.substring(h, 1, bchars), 16, 10).cast("int")
    rest = F.substring(h, bchars + 1, rchars)
    trimmed = F.regexp_replace(rest, "^0+", "")
    z4 = (F.lit(rchars) - F.length(trimmed)) * 4
    rho = (
        F.when(trimmed == "", F.lit(rho_max))
        .otherwise(z4 + _nibble_lz(F.substring(trimmed, 1, 1)) + 1)
        .cast("int")
    )
    return bucket, rho, rho_max


def hll_registers(df: DataFrame, key: Column, p: int) -> DataFrame:
    """(bucket int, r int) — non-empty registers only, ≤ 2^p rows.

    One aggregation whose key space is the register space: partial
    (map-side) MAX reduces every input partition to ≤ m rows before the
    single tiny shuffle. Null keys are ignored (COUNT DISTINCT parity).
    """
    bucket, rho, _ = hll_bucket_rho(key, p)
    return (
        df.filter(key.isNotNull())
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def _merge_registers(parts: list[DataFrame]) -> DataFrame:
    u = parts[0]
    for nxt in parts[1:]:
        u = u.unionByName(nxt)
    return u.groupBy("bucket").agg(F.max("r").cast("int").alias("r"))


def hll_summary(regs: DataFrame, p: int) -> DataFrame:
    """One-row (m, v, z_scaled, est, reg_digest) from a register table.

    z_scaled = sum_j 2^(rho_max - r_j) over ALL m registers (empty ones
    contribute 2^rho_max) as an exact DECIMAL(38,0) — the harmonic sum
    scaled by 2^rho_max so it is integer-exact and order-independent.
    est follows Flajolet et al. incl. the linear-counting small range;
    reg_digest = md5 over the (bucket:r) list in bucket order, the
    engine-portable register fingerprint.
    """
    m = 1 << p
    rho_max = 4 * (16 - p // 4) + 1
    pow_max = F.pow(F.lit(2.0), F.lit(rho_max)).cast("decimal(38,0)")
    item = F.concat(
        F.lpad(F.col("bucket").cast("string"), 5, "0"),
        F.lit(":"), F.col("r").cast("string"),
    )
    agg = regs.agg(
        F.count("*").alias("_n"),
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.lit(rho_max) - F.col("r"))
                  .cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_zn"),
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list(item))))
        .alias("reg_digest"),
    )
    v = (F.lit(m) - F.col("_n")).cast("bigint")
    z = (F.col("_zn") + v.cast("decimal(38,0)") * pow_max).cast("decimal(38,0)")
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est_raw = (
        F.lit(alpha) * F.lit(float(m)) * F.lit(float(m))
        * F.pow(F.lit(2.0), F.lit(rho_max)) / F.col("_z").cast("double")
    )
    est = (
        F.when(
            (est_raw <= F.lit(2.5) * F.lit(float(m))) & (F.col("v") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v")),
        ).otherwise(est_raw)
    )
    return (
        agg.withColumn("v", v)
        .withColumn("_z", z)
        .withColumn("m", F.lit(m).cast("int"))
        .withColumn("z_scaled", F.col("_z").cast("string"))
        .withColumn("est", F.round(est, 6))
        .select("m", "v", "z_scaled", "est", "reg_digest")
    )


class HLLSketch(PersistedIndex):
    """Persisted HLL register table under generation pointers."""

    META = ("p",)

    def __init__(self, spark: SparkSession, path: str, p: int):
        super().__init__(spark, path)
        self.p = p

    # --------------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        key: Column,
        p: int = 8,
    ) -> "HLLSketch":
        return cls._start_build(spark, path, p)._fold(
            hll_registers(df, key, p)
        )._finish_build()

    # ---------------------------------------------------------------- reads

    def registers(self) -> DataFrame:
        return self._read("registers")

    def summary(self) -> DataFrame:
        return hll_summary(self.registers(), self.p)

    def estimate(self) -> float:
        return float(self.summary().head().est)

    # ------------------------------------------------------------ increment

    def _fold(self, regs: DataFrame) -> "HLLSketch":
        self._publish("registers", regs.coalesce(1))
        return self

    def add(self, df: DataFrame, key: Column) -> "HLLSketch":
        """Fold a batch in: per-bucket MAX of stored ∪ batch registers.

        Idempotent by construction (MAX), so replaying a batch — the
        crash-window case — cannot move a register. O(batch + m)."""
        return self._fold(_merge_registers([self.registers(),
                                            hll_registers(df, key, self.p)]))

    def merge(self, *others: "HLLSketch") -> "HLLSketch":
        """Fold other sketches' registers into this one (same p). The
        union estimator: registers of A ∪ B = per-bucket MAX."""
        for o in others:
            if o.p != self.p:
                raise ValueError(
                    f"precision mismatch: {self.p} vs {o.p}"
                )
        return self._fold(_merge_registers(
            [self.registers()] + [o.registers() for o in others]
        ))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — Bar-Yossef et al. (RANDOM 2002) /
# Beyer et al. (SIGMOD 2007). Where HLL answers only |A|, KMV's state is
# the k smallest distinct hash VALUES, which supports the set-relation
# estimators a multi-collection corpus needs: union (fold min-k),
# intersection and Jaccard between per-collection sketches — "how much
# does source X's vocabulary overlap source Y's" without ever joining
# the corpora. md5 hex compares lexicographically exactly like its
# numeric value (fixed-length lowercase — the repo-wide portability
# idiom), so minima, counts, and the kth-minimum are integer/string
# exact across engines; the only doubles are the final estimates.
#
# Estimator: with n_min = k stored minima, D ≈ (k-1)/theta where theta
# is the kth minimum normalized to (0,1) — realized from the first 52
# bits (13 hex chars) so the ratio is exact in IEEE double on both
# engines. With n_min < k the sketch has seen every distinct value:
# the count itself is EXACT. Intersection: |M ∩ minA ∩ minB| / |M| of
# the merged sketch M scales the union estimate (Beyer et al. §4).
# ---------------------------------------------------------------------------


def kmv_minima(df: DataFrame, key: Column, k: int) -> DataFrame:
    """(h string): the k smallest distinct md5 values of key.

    distinct's partial (map-side) dedup bounds the shuffle by per-task
    distinct counts (the q65 vocabulary-agg contract), and the top-k is
    TakeOrderedAndProject — no global sort."""
    return (
        df.filter(key.isNotNull())
        .select(F.md5(key.cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def _kmv_est(n_min: Column, kth_hex: Column, k: int) -> Column:
    """Distinct estimate as a Column: exact count below k, else
    (k-1)/theta with theta from the kth minimum's first 52 bits."""
    v52 = F.conv(F.substring(kth_hex, 1, 13), 16, 10).cast("bigint")
    return F.when(n_min < k, n_min.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.pow(F.lit(2.0), F.lit(52))
        / v52.cast("double")
    )


class KMVSketch(PersistedIndex):
    """Persisted k-minimum-values table under generation pointers."""

    META = ("k",)

    def __init__(self, spark: SparkSession, path: str, k: int):
        super().__init__(spark, path)
        self.k = k

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        key: Column,
        k: int = 128,
    ) -> "KMVSketch":
        sk = cls._start_build(spark, path, k)
        sk._publish("minima", kmv_minima(df, key, k).coalesce(1))
        return sk._finish_build()

    def minima(self) -> DataFrame:
        return self._read("minima")

    def _fold(self, parts: list[DataFrame]) -> None:
        u = parts[0]
        for nxt in parts[1:]:
            u = u.unionByName(nxt)
        self._publish(
            "minima", u.distinct().orderBy("h").limit(self.k).coalesce(1)
        )

    def add(self, df: DataFrame, key: Column) -> "KMVSketch":
        """min-k(stored ∪ batch) — associative and idempotent, so replays
        and arbitrary batch splits land on the same state. O(batch + k)."""
        self._fold([self.minima(), kmv_minima(df, key, self.k)])
        return self

    def merge(self, *others: "KMVSketch") -> "KMVSketch":
        for o in others:
            if o.k != self.k:
                raise ValueError(f"k mismatch: {self.k} vs {o.k}")
        self._fold([self.minima()] + [o.minima() for o in others])
        return self

    def summary(self) -> DataFrame:
        """One row (k, n_min, kth_hex, est)."""
        agg = self.minima().agg(
            F.count("*").alias("n_min"), F.max("h").alias("kth_hex")
        )
        return agg.select(
            F.lit(self.k).cast("int").alias("k"),
            F.col("n_min").cast("bigint").alias("n_min"),
            F.coalesce("kth_hex", F.lit("")).alias("kth_hex"),
            F.round(_kmv_est(F.col("n_min"), F.col("kth_hex"), self.k), 6)
            .alias("est"),
        )

    def estimate(self) -> float:
        return float(self.summary().head().est)


def kmv_set_relations(a: KMVSketch, b: KMVSketch) -> DataFrame:
    """One row of set-relation estimates between two same-k sketches:

      n_a, n_b      stored minima counts
      n_union       |M|, M = min-k(minima_A ∪ minima_B)  (= min-k(A ∪ B))
      kth_hex       max of M — the merged theta carrier
      union_est     exact below k, else (k-1)/theta_M
      inter_cnt     |M ∩ minima_A ∩ minima_B|  (exact integer)
      jaccard       inter_cnt / n_union
      inter_est     jaccard * union_est

    Everything is joins/aggregates over two ≤ k-row tables — constant
    cost regardless of the corpora the sketches summarize."""
    if a.k != b.k:
        raise ValueError(f"k mismatch: {a.k} vs {b.k}")
    k = a.k
    ma, mb = a.minima(), b.minima()
    merged = ma.unionByName(mb).distinct().orderBy("h").limit(k)
    inter = merged.join(ma, "h", "left_semi").join(mb, "h", "left_semi")
    agg = (
        merged.agg(F.count("*").alias("n_union"),
                   F.max("h").alias("kth_hex"))
        .crossJoin(ma.agg(F.count("*").cast("bigint").alias("n_a")))
        .crossJoin(mb.agg(F.count("*").cast("bigint").alias("n_b")))
        .crossJoin(inter.agg(F.count("*").cast("bigint").alias("inter_cnt")))
    )
    union_est = _kmv_est(F.col("n_union"), F.col("kth_hex"), k)
    jac = F.col("inter_cnt").cast("double") / F.col("n_union").cast("double")
    return agg.select(
        F.lit(k).cast("int").alias("k"),
        "n_a", "n_b",
        F.col("n_union").cast("bigint").alias("n_union"),
        "kth_hex",
        F.round(union_est, 6).alias("union_est"),
        "inter_cnt",
        F.round(jac, 6).alias("jaccard"),
        F.round(jac * union_est, 6).alias("inter_est"),
    )


# ---------------------------------------------------------------------------
# Bloom filter — persisted MEMBERSHIP sketch (Bloom, CACM 1970; Broder &
# Mitzenmacher's survey for the sizing math). Where HLL answers |A| and KMV
# answers set relations, the Bloom filter answers "is x in A" with zero
# false NEGATIVES — the primitive behind benchmark decontamination at
# corpus scale. q62's exact screen joins every corpus shingle against the
# benchmark shingle set: correct, but at 100 TB that shuffles the corpus
# against the eval corpus every epoch. The Bloom path builds m bits from
# the benchmark side ONCE (m/60 packed words, KBs→MBs), then screens any
# batch with a broadcast join + bitwise AND — the corpus side never
# shuffles, never moves; a positive is "maybe" (tunable FP rate), a
# negative is CERTAIN, so the exact join is only ever needed on the tiny
# flagged remainder (two-phase screen).
#
# Engine-portable by the repo-wide idiom: probe j of key x is
#   ('0x' || substr(md5(j || '#' || x), 1, 13))::BIGINT % m
# (52-bit positive value, so % m matches Spark's pmod), packed 60 bits per
# word (bit index = pos % 60, word = pos // 60) — the sign bit is never
# touched, so BIGINT `&` / bit_or behave identically in Spark and DuckDB,
# and the words table is bit-for-bit reproducible from SQL (q149's oracle
# builds it from scratch and replays the screen).
#
# Persistence mirrors HLL/KMV: words/ holds ≤ m/60 (word_idx, bits) rows
# under generation pointers; `add` folds new member keys by per-word
# bit_or — associative, commutative, IDEMPOTENT (OR), so add ≡ rebuild
# bit-for-bit and crash-window replays cannot flip a bit. `merge` unions
# same-shape filters (the Bloom union property).
#
# Scale: build/add shuffle ≤ m/60 rows after map-side bit_or combine;
# the screen is O(batch · k) map-side work + one broadcast of the words
# table. Nothing is ever corpus-sized after the first projection.
# ---------------------------------------------------------------------------

_BLOOM_WORD_BITS = 60


def bloom_probe(key: Column, j: int, m: int) -> Column:
    """Bit position of hash function j for `key`, in [0, m)."""
    h = F.md5(F.concat(F.lit(f"{j}#"), key.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint"), F.lit(m)
    )


def _word_mask(pos: Column) -> tuple[Column, Column]:
    """(word_idx int, single-bit mask bigint) for a probe position.
    2^(pos % 60) is exact in double well past 60, so the pow→bigint cast
    is integer-exact in both engines."""
    word_idx = F.floor(pos / F.lit(_BLOOM_WORD_BITS)).cast("int")
    mask = F.pow(F.lit(2.0), (pos % F.lit(_BLOOM_WORD_BITS)).cast("int")).cast("bigint")
    return word_idx, mask


def bloom_words(df: DataFrame, key: Column, m: int, k: int) -> DataFrame:
    """(word_idx int, bits bigint) — non-empty words only, ≤ m/60 rows.

    One aggregation whose key space is the word space: partial (map-side)
    bit_or reduces every input partition to ≤ m/60 rows before the single
    tiny shuffle (the hll_registers contract). Null keys are ignored."""
    probes = df.filter(key.isNotNull()).select(
        F.explode(
            F.array(*[bloom_probe(key, j, m) for j in range(k)])
        ).alias("pos")
    )
    word_idx, mask = _word_mask(F.col("pos"))
    return (
        probes.select(word_idx.alias("word_idx"), mask.alias("mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("mask").cast("bigint").alias("bits"))
    )


def _merge_words(parts: list[DataFrame]) -> DataFrame:
    u = parts[0]
    for nxt in parts[1:]:
        u = u.unionByName(nxt)
    return u.groupBy("word_idx").agg(F.bit_or("bits").cast("bigint").alias("bits"))


def bloom_screen(
    df: DataFrame,
    words: DataFrame,
    m: int,
    k: int,
    key: Column,
    *id_cols: str,
    broadcast: bool = True,
) -> DataFrame:
    """`df` + boolean `maybe_member` (all k probe bits set — zero false
    negatives for keys folded into `words`; false-positive rate set by the
    (m, k, n) sizing). `id_cols` name the columns to carry through.

    Shape: k probes per row (map-side), LEFT broadcast join against the
    ≤ m/60-row words table, per-row AND-fold. The screened side never
    shuffles. At filter sizes past broadcast comfort (m/60 rows is ~2 MB
    per 2^30 bits), pass broadcast=False with the words table persisted
    bucketed by word_idx and let the plain equi-join prune instead —
    same semantics, bigger dim (the probe side then shuffles by
    word_idx, still never against anything corpus-sized)."""
    if "key" in id_cols:
        # the probed key surfaces as `key`; a carried column of the same
        # name would make the output ambiguous — fail loudly instead
        raise ValueError(
            "bloom_screen: id_cols may not contain 'key' — the probed "
            "key column is emitted under that name; alias it first."
        )
    probe_arr = F.array(*[bloom_probe(key, j, m) for j in range(k)])
    probes = df.select(*id_cols, key.alias("__key"),
                       F.explode(probe_arr).alias("pos"))
    word_idx, mask = _word_mask(F.col("pos"))
    probed = probes.select(
        *id_cols, "__key", word_idx.alias("word_idx"), mask.alias("mask")
    )
    hit = (
        F.col("bits").isNotNull()
        & (F.col("bits").bitwiseAND(F.col("mask")) != 0)
    ).cast("int")
    dim = F.broadcast(words) if broadcast else words
    return (
        probed.join(dim, "word_idx", "left")
        .groupBy(*id_cols, "__key")
        .agg((F.min(hit) == 1).alias("maybe_member"))
        .withColumnRenamed("__key", "key")
    )


class BloomSketch(PersistedIndex):
    """Persisted Bloom filter (packed-word table) under generation pointers."""

    META = ("m", "k")

    def __init__(self, spark: SparkSession, path: str, m: int, k: int):
        super().__init__(spark, path)
        self.m = m
        self.k = k

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        key: Column,
        m: int = 1 << 13,
        k: int = 3,
    ) -> "BloomSketch":
        if m % _BLOOM_WORD_BITS != 0:
            # keep word boundaries aligned so % / // never straddle words
            raise ValueError(f"m must be a multiple of {_BLOOM_WORD_BITS}")
        return cls._start_build(spark, path, m, k)._fold(
            bloom_words(df, key, m, k)
        )._finish_build()

    def words(self) -> DataFrame:
        return self._read("words")

    def _fold(self, words: DataFrame) -> "BloomSketch":
        self._publish("words", words.coalesce(1))
        return self

    def add(self, df: DataFrame, key: Column) -> "BloomSketch":
        """Fold member keys in: per-word bit_or of stored ∪ batch words.
        OR is idempotent, so replaying a batch (the crash window) cannot
        flip a bit; add ≡ rebuild bit-for-bit. O(batch + m/60)."""
        return self._fold(_merge_words([self.words(),
                                        bloom_words(df, key, self.m, self.k)]))

    def merge(self, *others: "BloomSketch") -> "BloomSketch":
        """Bloom union: per-word bit_or across same-(m,k) filters."""
        for o in others:
            if (o.m, o.k) != (self.m, self.k):
                raise ValueError(
                    f"shape mismatch: ({self.m},{self.k}) vs ({o.m},{o.k})"
                )
        return self._fold(
            _merge_words([self.words()] + [o.words() for o in others])
        )

    def screen(self, df: DataFrame, key: Column, *id_cols: str) -> DataFrame:
        return bloom_screen(df, self.words(), self.m, self.k, key, *id_cols)

    def contamination(self, shingles: DataFrame, threshold: float,
                      exact: DataFrame | None = None) -> DataFrame:
        """Per-document benchmark-contamination screen of (doc, shingle)
        rows: (doc, n_shingles, n_maybe, flagged, contamination), where
        `flagged` means the Bloom-member fraction of the doc's shingles
        reaches `threshold`. Bloom has zero false negatives, so an
        unflagged doc is certain clean.

        With `exact` (the benchmark's exact gram set, column `shingle`) a
        second phase confirms: only the FLAGGED docs' shingles join the
        broadcast gram set — O(flagged), not O(corpus) — adding
        `confirmed` (flagged and the exact fraction reaches `threshold`)
        and `exact_contamination`, so a Bloom false positive is never a
        confirmed leak. Verdicts use the unrounded ratios; the two
        contamination columns are rounded to 6 dp for display."""
        ratio = F.col("n_maybe") / F.col("n_shingles").cast("double")
        per = (
            self.screen(shingles, F.col("shingle"), "doc")
            .groupBy("doc")
            .agg(F.count("*").alias("n_shingles"),
                 F.sum(F.col("maybe_member").cast("int")).alias("n_maybe"))
            .select("doc", "n_shingles", "n_maybe",
                    (ratio >= threshold).alias("flagged"),
                    F.round(ratio, 6).alias("contamination"))
        )
        if exact is None:
            return per
        bench = F.broadcast(
            exact.select("shingle").distinct().withColumn("__hit", F.lit(1))
        )
        exact_ratio = (
            shingles.join(per.filter("flagged").select("doc"), "doc",
                          "left_semi")
            .join(bench, "shingle", "left")
            .groupBy("doc")
            .agg((F.sum(F.coalesce("__hit", F.lit(0)))
                  / F.count("*")).alias("__exact"))
        )
        x = F.coalesce("__exact", F.lit(0.0))
        return (
            per.join(exact_ratio, "doc", "left")
            .select(*per.columns,
                    (F.col("flagged") & (x >= threshold)).alias("confirmed"),
                    F.round(x, 6).alias("exact_contamination"))
        )


# ---------------------------------------------------------------------------
# Count-Min sketch — persisted FREQUENCY sketch (Cormode & Muthukrishnan,
# "An improved data stream summary: the count-min sketch and its
# applications", J. Algorithms 2005). The fourth member of the family:
# HLL = cardinality, KMV = set relations, Bloom = membership, CM =
# frequency. The 100 TB question it answers: "how often does token/domain/
# fingerprint x occur" — per shard, per epoch, across a merge tree —
# without carrying the vocabulary-sized exact count table through every
# fold. q65's exact Zipf scan is the right one-shot plan; the CM sketch is
# the right SERVING/FOLD state: d×w integer counters (KBs), built in one
# map-side-combinable aggregation whose key space is the cell space,
# mergeable by cell-wise SUM, and queryable for any key by a broadcast
# lookup with the one-sided guarantee est ≥ true (error ≤ εN with
# probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉).
#
# Engine-portable by the repo-wide md5 idiom (the Bloom discipline,
# sketches.py:455-461, with '@' as the CM salt so the probe streams are
# independent of a Bloom filter over the same keys):
#   col of row j for key x = ('0x' || substr(md5(j || '@' || x), 1, 13))
#                                ::BIGINT % w
# Counters are EXACT bigint sums of non-negative increments —
# associative/commutative, so add ≡ rebuild bit-for-bit and the cells
# table is reproducible from scratch in SQL (q151's oracle does exactly
# that). Unlike Bloom's OR, SUM is NOT idempotent: a crash-window replay
# of the same batch double-counts, so streaming folds must gate `add`
# behind an epoch ledger (streaming/pipeline.py's discipline) — the
# estimate stays an upper bound either way.
#
# Scale: build/add shuffle ≤ d·w cell rows after map-side partial sums;
# estimate is d probes per queried key + one broadcast join against the
# ≤ d·w-row cells table (pass broadcast=False past broadcast comfort and
# bucket the cells by (row, col) instead). Nothing is corpus-sized after
# the first projection.
# ---------------------------------------------------------------------------


def cm_probe(key: Column, j: int, w: int) -> Column:
    """Column index of hash row j for `key`, in [0, w)."""
    h = F.md5(F.concat(F.lit(f"{j}@"), key.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint"), F.lit(w)
    )


def cm_cells(
    df: DataFrame, key: Column, w: int, d: int,
    weight: Column | None = None,
) -> DataFrame:
    """(row int, col bigint, cnt bigint) — non-zero cells only, ≤ d·w rows.

    One aggregation whose key space is the cell space: partial (map-side)
    sums reduce every input partition to ≤ d·w rows before the single tiny
    shuffle (the hll_registers contract). `weight` (default 1 per input
    row) must be a non-negative integer column — CM's guarantees assume
    non-negative updates. Null keys are ignored."""
    wcol = (F.lit(1) if weight is None else weight).cast("bigint")
    probes = df.filter(key.isNotNull()).select(
        F.posexplode(
            F.array(*[cm_probe(key, j, w) for j in range(d)])
        ).alias("row", "col"),
        wcol.alias("cnt"),
    )
    return (
        probes.groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _sum_cells(parts: list[DataFrame]) -> DataFrame:
    u = parts[0]
    for nxt in parts[1:]:
        u = u.unionByName(nxt)
    return u.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    df: DataFrame,
    cells: DataFrame,
    w: int,
    d: int,
    key: Column,
    *id_cols: str,
    broadcast: bool = True,
) -> DataFrame:
    """`df`'s columns named in `id_cols` + (key, est) — the CM point
    estimate min_j cells[j][h_j(key)], an UPPER bound on the true count
    of every key folded in (missing cells read as 0, which only tightens
    the min). One row per DISTINCT (id_cols, key) combination — the
    probe groupBy collapses duplicate input rows, so don't zip results
    back to an un-deduplicated input by position; d probes map-side, one
    LEFT broadcast join against the ≤ d·w-row cells table — the queried
    side never shuffles."""
    if "key" in id_cols or "est" in id_cols:
        raise ValueError(
            "cm_estimate: id_cols may not contain 'key'/'est' — those "
            "names carry the probed key and the estimate; alias first."
        )
    probes = df.select(
        *id_cols, key.alias("__key"),
        F.posexplode(
            F.array(*[cm_probe(key, j, w) for j in range(d)])
        ).alias("row", "col"),
    )
    # the cells count joins under a reserved name so a carried id_col may
    # itself be called `cnt` (the natural name for the exact count riding
    # next to the estimate)
    slim = cells.select("row", "col", F.col("cnt").alias("__cmcnt"))
    dim = F.broadcast(slim) if broadcast else slim
    return (
        probes.join(dim, ["row", "col"], "left")
        .groupBy(*id_cols, "__key")
        .agg(F.min(F.coalesce(F.col("__cmcnt"), F.lit(0).cast("bigint")))
             .alias("est"))
        .withColumnRenamed("__key", "key")
    )


class CMSketch(PersistedIndex):
    """Persisted count-min sketch (sparse cell table) under generation
    pointers."""

    META = ("w", "d")

    def __init__(self, spark: SparkSession, path: str, w: int, d: int):
        super().__init__(spark, path)
        self.w = w
        self.d = d

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        key: Column,
        w: int = 1 << 12,
        d: int = 4,
        weight: Column | None = None,
    ) -> "CMSketch":
        return cls._start_build(spark, path, w, d)._fold(
            cm_cells(df, key, w, d, weight=weight)
        )._finish_build()

    def cells(self) -> DataFrame:
        return self._read("cells")

    def last_epoch(self) -> int:
        """Highest epoch folded via `add(..., epoch=)`, −1 before any.
        Carried as a `_last_epoch` marker INSIDE the current generation
        (committed atomically with the pointer swap), so 'did this
        epoch's fold land' and 'which cells does a reader see' can never
        disagree across a crash."""
        p = os.path.join(self._table_dir("cells"), "_last_epoch")
        if not fs_exists(self.spark, p):
            return -1
        return int(read_small_file(self.spark, p).decode("ascii"))

    def _fold(self, cells: DataFrame, epoch: int | None = None) -> "CMSketch":
        # every publish carries the marker forward (max of stored and
        # the fold's epoch) so a later merge/compaction cannot reopen a
        # previously-folded epoch's replay window; the underscore name
        # keeps parquet readers off it
        mark = str(max(self.last_epoch(),
                       -1 if epoch is None else epoch)).encode("ascii")

        def write(dest: str) -> None:
            cells.coalesce(1).write.mode("overwrite").parquet(dest)
            write_small_file(self.spark, os.path.join(dest, "_last_epoch"),
                             mark)

        self._publish("cells", write)
        return self

    def add(
        self, df: DataFrame, key: Column, weight: Column | None = None,
        epoch: int | None = None,
    ) -> "CMSketch":
        """Fold a batch in: cell-wise SUM of stored + batch cells — exact
        integer arithmetic, so add ≡ rebuild bit-for-bit. NOT idempotent
        (sum, not OR): a replayed batch would double-count, so streaming
        callers pass the epoch id — `epoch <= last_epoch()` makes the
        fold a no-op (single-writer, epochs monotone: the drift-baseline
        discipline, operators/drift.py). O(batch + d·w)."""
        if epoch is not None and epoch <= self.last_epoch():
            return self  # replayed epoch: already folded
        return self._fold(
            _sum_cells([self.cells(),
                        cm_cells(df, key, self.w, self.d, weight=weight)]),
            epoch=epoch,
        )

    def merge(self, *others: "CMSketch") -> "CMSketch":
        """CM union: cell-wise sum across same-(w,d) sketches — the
        estimate over the merge equals the estimate over the concatenated
        input (linearity of the counters)."""
        for o in others:
            if (o.w, o.d) != (self.w, self.d):
                raise ValueError(
                    f"shape mismatch: ({self.w},{self.d}) vs ({o.w},{o.d})"
                )
        return self._fold(
            _sum_cells([self.cells()] + [o.cells() for o in others])
        )

    def estimate(self, df: DataFrame, key: Column, *id_cols: str) -> DataFrame:
        return cm_estimate(df, self.cells(), self.w, self.d, key, *id_cols)
