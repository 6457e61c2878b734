"""Distribution-drift monitoring — PSI between two corpus slices.

The Population Stability Index is the standard release gate for "did
this epoch's data shift?" (Karakoulas 2004; the credit-scoring PSI
carried into ML data pipelines): histogram both slices on shared bins,
PSI = Σ (p_a − p_b)·ln(p_a / p_b). PSI < 0.1 stable, 0.1–0.25 drifting,
> 0.25 shifted.

Engine-portable by construction (the repo's oracle discipline):

  * Binning is ALL-INTEGER: bin = (v − min)·B div (max − min + 1) on
    bigints — no float widths, no boundary rounding, identical on any
    engine. min/max come from the UNION of both slices, so the bins are
    shared by definition.
  * Laplace smoothing (+0.5 per bin) keeps empty bins finite without an
    arbitrary epsilon clamp: p = (cnt + 0.5)/(N + B/2), the same
    rational on both engines.
  * Per-bin terms round to 9 dp, sum exactly as DECIMAL, final PSI
    rounds to 6 dp — the established float-sum ordering discipline.

Scale shape: one pass for min/max (1-row broadcast), one
map-side-combinable (slice, bin) count agg, and the PSI fold runs on
the B-row histogram. The corpus shuffles once, on the bin key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def int_bin(v: Column, vmin: Column, vmax: Column, bins: int) -> Column:
    """All-integer shared binning: (v−min)·B div (max−min+1) ∈ [0, B)."""
    return F.call_function(
        "div",
        (v.cast("bigint") - vmin) * F.lit(bins),
        vmax - vmin + F.lit(1),
    ).cast("int")


def psi_report(
    df: DataFrame,
    slice_col: Column,
    value_col: str,
    bins: int = 10,
) -> DataFrame:
    """One row — (n_a, n_b, n_bins, psi, jsd) — for the drift of
    ``value_col`` between the two slices ``slice_col`` (boolean: true =
    slice A). Rows with NULL values are excluded (no bin is
    'missing')."""
    base = df.filter(F.col(value_col).isNotNull()).select(
        slice_col.alias("_a"), F.col(value_col).cast("bigint").alias("_v")
    )
    ext = base.agg(
        F.min("_v").alias("_mn"), F.max("_v").alias("_mx")
    )
    binned = base.join(F.broadcast(ext)).select(
        "_a", int_bin(F.col("_v"), F.col("_mn"), F.col("_mx"), bins)
        .alias("_bin")
    )
    hist = (
        binned.groupBy("_bin")
        .agg(
            F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(F.col("_a"), 0).otherwise(1)).alias("_cb"),
        )
    )
    # fold on the <=B-row histogram: totals broadcast back, smoothed
    # probabilities, exact decimal sum of 9-dp-rounded terms
    tot = hist.agg(
        F.sum("_ca").cast("bigint").alias("_na"),
        F.sum("_cb").cast("bigint").alias("_nb"),
    )
    half_b = bins / 2.0
    pa = (F.col("_ca") + F.lit(0.5)) / (F.col("_na") + F.lit(half_b))
    pb = (F.col("_cb") + F.lit(0.5)) / (F.col("_nb") + F.lit(half_b))
    term = F.round((pa - pb) * F.log(pa / pb), 9)
    # Jensen-Shannon divergence on the same smoothed bins (natural log):
    # bounded [0, ln 2], symmetric — PSI's unbounded log-ratio terms blow
    # up on near-empty bins, JSD never does; report both.
    m = (pa + pb) / F.lit(2.0)
    jsd_term = F.round(
        (pa * F.log(pa / m) + pb * F.log(pb / m)) / F.lit(2.0), 9
    )
    return (
        hist.join(F.broadcast(tot))
        .agg(
            F.max("_na").alias("n_a"),
            F.max("_nb").alias("n_b"),
            F.lit(bins).cast("int").alias("n_bins"),
            F.round(
                F.sum(term.cast("decimal(28,9)")).cast("double"), 6
            ).alias("psi"),
            F.round(
                F.sum(jsd_term.cast("decimal(28,9)")).cast("double"), 6
            ).alias("jsd"),
        )
    )


def _clamped_bin(v: Column, vmin: Column, vmax: Column, bins: int) -> Column:
    """`int_bin` with FROZEN bounds: out-of-range values clamp into the
    edge bins (the production behavior — a baseline's bins never move
    when a new batch exceeds the old range)."""
    return F.least(
        F.greatest(int_bin(v, vmin, vmax, bins), F.lit(0)),
        F.lit(bins - 1),
    )


class DriftBaseline:
    """Persisted PSI baseline — the production form of `psi_report`: the
    historical corpus is summarized ONCE into a B-row frozen-bin
    histogram under a generation pointer, and every incoming batch
    screens against it at O(batch + B) — the historical data is never
    rescanned. Bins are frozen at build time (out-of-range batch values
    clamp into the edge bins, which is exactly how a shifted batch shows
    up); `fold` merges an accepted batch's counts into the baseline
    (same frozen bins) and publishes a new generation atomically, so the
    baseline tracks the accepted corpus exactly like the MinHash/HLL
    state tables. Single-writer contract, like every index in this
    repo.

    Layout: ``{path}/state/gen=N/`` holding one parquet of B rows
    (bin, cnt) plus a 1-row meta (vmin, vmax, n_bins, n)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    @property
    def _root(self) -> str:
        return f"{self.path}/state"

    # ------------------------------------------------------------- build

    @classmethod
    def build(
        cls, spark, df: DataFrame, value_col: str, path: str,
        bins: int = 10,
    ) -> "DriftBaseline":
        from ocr_vector_db_spark.operators.index_maint import publish

        base = df.filter(F.col(value_col).isNotNull()).select(
            F.col(value_col).cast("bigint").alias("_v")
        )
        ext = base.agg(
            F.min("_v").alias("_mn"), F.max("_v").alias("_mx"),
            F.count(F.lit(1)).alias("_n"),
        )
        hist = (
            base.join(F.broadcast(ext))
            .groupBy(
                int_bin(F.col("_v"), F.col("_mn"), F.col("_mx"), bins)
                .alias("bin")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        meta = ext.select(
            F.col("_mn").alias("vmin"), F.col("_mx").alias("vmax"),
            F.lit(bins).cast("int").alias("n_bins"),
            F.col("_n").cast("bigint").alias("n"),
            F.lit(-1).cast("bigint").alias("last_epoch"),
        )
        bl = cls(spark, path)
        publish(spark, bl._root, bl._writer(hist, meta), first=True)
        return bl

    @classmethod
    def load(cls, spark, path: str) -> "DriftBaseline":
        return cls(spark, path)

    @staticmethod
    def _writer(hist: DataFrame, meta: DataFrame):
        def write(dest: str) -> None:
            hist.coalesce(1).write.mode("overwrite").parquet(f"{dest}/hist")
            meta.coalesce(1).write.mode("overwrite").parquet(f"{dest}/meta")

        return write

    def _sub(self, sub: str) -> DataFrame:
        from ocr_vector_db_spark.operators.index_maint import current_gen_dir

        return self.spark.read.parquet(
            f"{current_gen_dir(self.spark, self._root)}/{sub}"
        )

    # ------------------------------------------------------------ screen

    def _batch_hist(self, batch: DataFrame, value_col: str) -> DataFrame:
        meta = self._sub("meta")
        return (
            batch.filter(F.col(value_col).isNotNull())
            .select(F.col(value_col).cast("bigint").alias("_v"))
            .join(F.broadcast(meta))
            .groupBy(
                _clamped_bin(
                    F.col("_v"), F.col("vmin"), F.col("vmax"),
                    int(meta.head().n_bins),
                ).alias("bin")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    def psi_of(self, batch: DataFrame, value_col: str) -> DataFrame:
        """One row — (n_base, n_batch, n_bins, psi) — for the batch's
        drift against the stored baseline (frozen bins, Laplace
        smoothing, exact decimal term sum: `psi_report`'s math)."""
        meta = self._sub("meta").head()
        bins = int(meta.n_bins)
        full = self.spark.range(bins).select(F.col("id").cast("int")
                                             .alias("bin"))
        a = self._sub("hist").withColumnRenamed("cnt", "_ca")
        b = self._batch_hist(batch, value_col).withColumnRenamed(
            "cnt", "_cb"
        )
        hist = (
            full.join(a, "bin", "left").join(b, "bin", "left")
            .select(
                "bin",
                F.coalesce("_ca", F.lit(0)).alias("_ca"),
                F.coalesce("_cb", F.lit(0)).alias("_cb"),
            )
        )
        tot = hist.agg(
            F.sum("_ca").cast("bigint").alias("_na"),
            F.sum("_cb").cast("bigint").alias("_nb"),
        )
        half_b = bins / 2.0
        pa = (F.col("_ca") + F.lit(0.5)) / (F.col("_na") + F.lit(half_b))
        pb = (F.col("_cb") + F.lit(0.5)) / (F.col("_nb") + F.lit(half_b))
        term = F.round((pa - pb) * F.log(pa / pb), 9)
        return (
            hist.join(F.broadcast(tot))
            .agg(
                F.max("_na").alias("n_base"),
                F.max("_nb").alias("n_batch"),
                F.lit(bins).cast("int").alias("n_bins"),
                F.round(
                    F.sum(term.cast("decimal(28,9)")).cast("double"), 6
                ).alias("psi"),
            )
        )

    # -------------------------------------------------------------- fold

    def fold(
        self, batch: DataFrame, value_col: str, epoch: int | None = None,
    ) -> "DriftBaseline":
        """Merge an ACCEPTED batch into the baseline (frozen bins; counts
        add, n grows, bounds stay) and publish a new generation
        atomically. O(batch + B). Count folds are NOT idempotent (unlike
        the HLL's register MAX), so streaming callers pass the epoch id:
        `epoch <= meta.last_epoch` makes the fold a no-op — a crashed
        epoch's retry cannot double-count (single-writer, epochs
        monotone)."""
        from ocr_vector_db_spark.operators.index_maint import publish

        prev = self._sub("meta").head()
        if epoch is not None and epoch <= int(prev.last_epoch):
            return self  # replayed epoch: already folded
        merged = (
            self._sub("hist")
            .unionByName(self._batch_hist(batch, value_col))
            .groupBy("bin")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        n_add = batch.filter(F.col(value_col).isNotNull()).count()
        new_epoch = int(prev.last_epoch) if epoch is None else epoch
        meta = self._sub("meta").select(
            "vmin", "vmax", "n_bins",
            (F.col("n") + F.lit(n_add)).cast("bigint").alias("n"),
            F.lit(new_epoch).cast("bigint").alias("last_epoch"),
        )
        publish(self.spark, self._root, self._writer(merged, meta))
        return self


def ks_report(
    df: DataFrame,
    slice_col: Column,
    value_col: str,
) -> DataFrame:
    """One row — (n_a, n_b, n_values, ks) — the exact two-sample
    Kolmogorov-Smirnov statistic between the two slices: the unbinned
    complement to `psi_report` (PSI sees only bin mass; KS is the sup of
    the ECDF gap, sensitive to shape at any resolution). max_v |F_a(v) −
    F_b(v)| evaluated at every distinct value — exact, not sampled.

    Scale shape: the corpus collapses to the DISTINCT-VALUE histogram
    (one map-side-combinable agg — the only corpus shuffle); the running
    ECDFs come from `ranking.global_prefix_sums` (cutpoint buckets +
    per-bucket window + broadcast offsets — NO global sort, the q61
    machinery); the sup is one max-agg. Engine-portable: cumulative
    counts are exact bigints, the two ECDF divisions are the same IEEE
    double op on both engines, final rounds to 6 dp."""
    from ocr_vector_db_spark.operators.ranking import global_prefix_sums

    base = df.filter(F.col(value_col).isNotNull()).select(
        slice_col.alias("_a"), F.col(value_col).cast("bigint").alias("_v")
    )
    hist = base.groupBy("_v").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).cast("bigint")
        .alias("_ca"),
        F.sum(F.when(F.col("_a"), 0).otherwise(1)).cast("bigint")
        .alias("_cb"),
    )
    cum = global_prefix_sums(hist, "_v", ["_ca", "_cb"])
    tot = hist.agg(
        F.sum("_ca").cast("bigint").alias("_na"),
        F.sum("_cb").cast("bigint").alias("_nb"),
    )
    gap = F.abs(
        F.col("cum__ca").cast("double") / F.col("_na").cast("double")
        - F.col("cum__cb").cast("double") / F.col("_nb").cast("double")
    )
    return (
        cum.join(F.broadcast(tot))
        .agg(
            F.max("_na").alias("n_a"),
            F.max("_nb").alias("n_b"),
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.round(F.max(gap), 6).alias("ks"),
        )
    )


def embedding_drift(
    emb: DataFrame,
    slice_col: Column,
    vec_col: str = "embedding",
) -> DataFrame:
    """One row — (n_a, n_b, dim, mean_cosine, max_dim_shift) — embedding-
    space drift between two slices: the cosine between the two mean
    vectors (1.0 = same direction; an encoder/config change at ingest
    shows up here before any text statistic moves) plus the largest
    per-dimension mean shift (which dimension moved most).

    The corpus collapses to per-dimension conditional sums (ONE
    posexplode + hash agg — the only corpus shuffle, dim-sized output);
    everything after runs on the dim-row table. Engine-portable by the
    q120 discipline: elements round to 9 dp and sum as DECIMAL before
    the mean division, cross-terms round to 12 dp and sum as DECIMAL,
    so no float sum depends on row order."""
    vals = emb.filter(F.col(vec_col).isNotNull()).select(
        slice_col.alias("_a"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("_i", "_v"),
    )
    dsum = lambda c: F.sum(  # noqa: E731
        F.round(c, 9).cast("decimal(28,9)")
    ).cast("double")
    per_dim = vals.groupBy("_i").agg(
        (dsum(F.when(F.col("_a"), F.col("_v")))
         / F.sum(F.when(F.col("_a"), 1).otherwise(0))).alias("_ma"),
        (dsum(F.when(~F.col("_a"), F.col("_v")))
         / F.sum(F.when(F.col("_a"), 0).otherwise(1))).alias("_mb"),
    )
    counts = emb.filter(F.col(vec_col).isNotNull()).agg(
        F.sum(F.when(slice_col, 1).otherwise(0)).cast("bigint")
        .alias("_na"),
        F.sum(F.when(slice_col, 0).otherwise(1)).cast("bigint")
        .alias("_nb"),
    )
    d12 = lambda c: F.sum(  # noqa: E731
        F.round(c, 12).cast("decimal(38,12)")
    ).cast("double")
    return (
        per_dim.join(F.broadcast(counts))
        .agg(
            F.max("_na").alias("n_a"),
            F.max("_nb").alias("n_b"),
            F.count(F.lit(1)).cast("int").alias("dim"),
            F.round(
                d12(F.col("_ma") * F.col("_mb"))
                / (F.sqrt(d12(F.col("_ma") * F.col("_ma")))
                   * F.sqrt(d12(F.col("_mb") * F.col("_mb")))),
                6,
            ).alias("mean_cosine"),
            F.round(F.max(F.abs(F.col("_ma") - F.col("_mb"))), 6)
            .alias("max_dim_shift"),
        )
    )
