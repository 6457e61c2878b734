"""BPE tokenizer TRAINING — iterative merge learning, corpus-scale.

q95 (`functions/text_analysis.bpe_pair_counts`) computes ONE round of
pair statistics; this module runs the full Sennrich et al. (ACL 2016)
training loop. The trick that makes it corpus-size-independent: BPE
training never needs the corpus after the first pass — it iterates on
the WEIGHTED WORD TABLE (Heaps'-law sized: ~1e6 rows for 100 TB of
text), exactly how subword-nmt does it. One corpus-wide aggregation
builds (word, count); every merge iteration is then an aggregation plus
a map over that small table.

Representation: a word's symbol sequence is a delimited string
``<s1><s2>…<_>`` (``_`` is the end-of-word marker; tokens are
drawn from the shared class [a-z0-9가-힣]+ so ``<``/``>``/``_`` can never collide with content). This
makes merge application a LITERAL global string replace —
``replace(sym, '<a><b>', '<ab>')`` — which is exactly canonical BPE:
leftmost, non-overlapping, left-to-right (verified against the naive
list implementation, including same-symbol runs: ``aaaaa`` under (a,a)
→ ``aa aa a``). Both Spark and DuckDB implement literal replace with
identical semantics, so the entire training loop is engine-portable and
q132's oracle replays it stage by stage.

Determinism: the argmax pair breaks ties by (count DESC, left ASC,
right ASC) — byte-order on ASCII, identical across engines — so the
learned merge table is a pure function of the corpus.

Scale shape: one corpus pass (token explode → word count agg, map-side
combinable); then per merge a vocabulary-sized aggregation whose result
is a SINGLE collected row (the argmax — the only driver traffic) and a
map-side replace. The vocab table is cached and re-checkpointed every
few iterations to keep lineage flat. n_merges is the driver-loop bound
(30k in production BPE — still just 30k tiny jobs against a 1e6-row
cached table, independent of the 100 TB behind it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_vector_db_spark.functions.tokenize import TOKEN_SPLIT_RE, tokens_of

SYM_RE = "<([^<>]+)>"
END = "_"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, cnt): the corpus's weighted word table — the ONE corpus-sized
    pass of BPE training (q65's vocabulary-agg contract)."""
    return (
        docs.select(F.explode(tokens_of(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def to_symbols(w: Column) -> Column:
    """'abc' → '<a><b><c><_>' — the delimited symbol-string form."""
    return F.concat(
        F.lit("<"), F.array_join(F.split(w, ""), "><"), F.lit("><" + END + ">")
    )


def _sym_array(sym: Column) -> Column:
    return F.regexp_extract_all(sym, F.lit(SYM_RE), 1)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(la, lb, c): adjacent symbol pairs weighted by word count."""
    arr = _sym_array(F.col("sym"))
    n = F.size(arr)
    pairs = F.zip_with(
        F.slice(arr, 1, n - 1), F.slice(arr, 2, n - 1),
        lambda x, y: F.struct(x.alias("la"), y.alias("lb")),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.la").alias("la"), F.col("p.lb").alias("lb"))
        .agg(F.sum("cnt").alias("c"))
    )


def apply_merge(sym: Column, la: str, lb: str) -> Column:
    """One canonical BPE merge application (literal leftmost
    non-overlapping replace on the delimited form)."""
    return F.replace(
        sym, F.lit(f"<{la}><{lb}>"), F.lit(f"<{la}{lb}>")
    )


def _train_loop(
    vocab: DataFrame,
    start_step: int,
    n_merges: int,
    checkpoint_every: int = 8,
) -> tuple[list[dict], DataFrame]:
    """Run ``n_merges`` merge iterations over a (sym, cnt) vocabulary,
    numbering them from ``start_step`` — the shared core of `bpe_train`
    and `BPETokenizer.extend`."""
    merges: list[dict] = []
    for i in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("c"), F.asc("la"), F.asc("lb"))
            .head(1)
        )
        if not top:
            break
        la, lb, c = top[0].la, top[0].lb, int(top[0].c)
        merges.append(
            {"step": start_step + i, "la": la, "lb": lb, "pair_count": c}
        )
        vocab = vocab.select(
            apply_merge(F.col("sym"), la, lb).alias("sym"), "cnt"
        )
        if (i + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint()  # flat lineage, vocab-sized
    return merges, vocab


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> tuple[list[dict], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus.

    Returns (merges, final_vocab): merges is the ordered list of
    ``{"step", "la", "lb", "pair_count"}`` dicts (the tokenizer's merge
    table — ≤ n_merges rows, the only data that ever reaches the
    driver: one argmax row per iteration); final_vocab is the word
    table in its post-merge symbol form, reusable for segmentation
    (`bpe_token_counts`). Stops early if the vocabulary runs out of
    pairs (every word fully merged)."""
    vocab = word_counts(docs, text_col).select(
        to_symbols(F.col("w")).alias("sym"), "cnt"
    )
    vocab = vocab.localCheckpoint()  # pin: pure function of the corpus
    return _train_loop(vocab, 1, n_merges, checkpoint_every)


def merges_df(spark, merges: list[dict]) -> DataFrame:
    return spark.createDataFrame(
        [(m["step"], m["la"], m["lb"], m["pair_count"]) for m in merges],
        "step int, la string, lb string, pair_count bigint",
    )


# A column-expression replace chain adds one Catalyst node per merge:
# fine for the oracle-sized tables the queries gate (tens of merges),
# but a production 30k-merge tokenizer would build a 30k-deep expression
# tree (plan-size blowup, codegen bailout — the round-6 CASE-WHEN
# family). Past this bound, segmentation switches to an Arrow-batched
# pandas pass over the DISTINCT-WORD relation — vocab-sized Python, not
# corpus-sized, and proven byte-identical to the expression path.
MAX_EXPR_MERGES = 256


def _seg_counts_expr(words: DataFrame, merges: list[dict]) -> DataFrame:
    """(w, n_sym) via the chained-literal-replace column expression."""
    sym = to_symbols(F.col("w"))
    for m in merges:
        sym = apply_merge(sym, m["la"], m["lb"])
    return words.select("w").distinct().select(
        "w", F.size(_sym_array(sym)).alias("n_sym")
    )


def _seg_counts_pandas(words: DataFrame, merges: list[dict]) -> DataFrame:
    """(w, n_sym) via one Arrow-batched pandas pass over the distinct
    words — O(1) plan size at any merge count; the same literal
    leftmost replace (str.replace), so output is byte-identical to
    `_seg_counts_expr`."""
    pairs = [(f"<{m['la']}><{m['lb']}>", f"<{m['la']}{m['lb']}>")
             for m in merges]

    def seg(batches):
        import pandas as pd

        for pdf in batches:
            syms = pdf["w"].map(
                lambda w: "<" + "><".join(w) + "><" + END + ">"
            )
            for old, new in pairs:
                syms = syms.str.replace(old, new, regex=False)
            yield pd.DataFrame({
                "w": pdf["w"],
                "n_sym": syms.str.count("<").astype("int64"),
            })

    return words.select("w").distinct().mapInPandas(
        seg, "w string, n_sym bigint"
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_bpe_tokens): segment every document with a trained
    merge table and count its BPE tokens.

    Each word occurrence contributes the symbol count of its merged
    form, so the merge application runs once per DISTINCT word (the
    Heaps-sized vocabulary, broadcast back onto per-doc occurrence
    counts) — never once per occurrence. Merge order is preserved.
    Merge tables past MAX_EXPR_MERGES segment through the Arrow-batched
    pandas path (constant plan size) instead of the expression chain."""
    words = docs.select(
        F.col(id_col), F.explode(tokens_of(F.col(text_col))).alias("w")
    )
    if len(merges) <= MAX_EXPR_MERGES:
        seg = _seg_counts_expr(words, merges)
    else:
        seg = _seg_counts_pandas(words, merges)
    occ = words.groupBy(id_col, "w").agg(F.count("*").alias("occ"))
    return (
        occ.join(F.broadcast(seg), "w")
        .groupBy(id_col)
        .agg(
            F.sum("occ").cast("bigint").alias("n_words"),
            F.sum(F.col("occ") * F.col("n_sym")).cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )


class BPETokenizer:
    """Persisted BPE tokenizer artifact with RESUMABLE training — the
    index discipline (generation pointers, atomic publishes, GC) applied
    to the tokenizer, so "train 10k merges today, extend to 30k tomorrow"
    never re-reads the corpus.

    Layout under ``path`` — ONE generation root holding both tables, so
    a single commit marker publishes them as an atomic pair (a merge
    table and a vocabulary from different training states can never be
    observed together, even across a crash mid-extend):

      state/gen=N/merges/   the ordered merge table (n_merges rows)
      state/gen=N/vocab/    the weighted word table in post-merge symbol
                            form (Heaps-sized — the ONLY corpus-derived
                            state; this is what makes `extend`
                            corpus-free)

    `extend` continues the merge loop from the stored vocab, so
    build(n) + extend(m) is BYTE-IDENTICAL to build(n+m) — gated by
    q136's oracle, which replays the full loop from scratch in SQL.
    Extending is only sound over the SAME corpus (BPE statistics are not
    incremental over new documents — retrain for corpus changes; the
    add-new-docs twin is the LM index, whose counts DO fold).
    Single-writer contract, like every index in this repo."""

    MERGES_SCHEMA = "step int, la string, lb string, pair_count bigint"

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------- build

    @classmethod
    def build(
        cls,
        spark,
        docs: DataFrame,
        path: str,
        n_merges: int,
        text_col: str = "text",
    ) -> "BPETokenizer":
        from ocr_vector_db_spark.operators.index_maint import publish

        merges, vocab = bpe_train(docs, n_merges, text_col)
        tok = cls(spark, path)
        publish(spark, tok._root,
                tok._writer(merges_df(spark, merges), vocab), first=True)
        return tok

    @classmethod
    def load(cls, spark, path: str) -> "BPETokenizer":
        return cls(spark, path)

    @property
    def _root(self) -> str:
        return f"{self.path}/state"

    @staticmethod
    def _writer(merges: DataFrame, vocab: DataFrame):
        def write(dest: str) -> None:
            merges.coalesce(1).write.mode("overwrite").parquet(
                f"{dest}/merges")
            vocab.write.mode("overwrite").parquet(f"{dest}/vocab")

        return write

    def _sub(self, sub: str) -> DataFrame:
        from ocr_vector_db_spark.operators.index_maint import current_gen_dir

        return self.spark.read.parquet(
            f"{current_gen_dir(self.spark, self._root)}/{sub}"
        )

    def merges(self) -> list[dict]:
        """The ordered merge table (n_merges rows of driver traffic)."""
        return [
            {"step": r.step, "la": r.la, "lb": r.lb,
             "pair_count": int(r.pair_count)}
            for r in self._sub("merges").orderBy("step").collect()
        ]

    def merges_frame(self) -> DataFrame:
        return self._sub("merges").orderBy("step")

    # ------------------------------------------------------------ extend

    def extend(self, n_more: int) -> "BPETokenizer":
        """Learn ``n_more`` additional merges from the STORED vocabulary
        — no corpus scan; each iteration is a vocab-sized aggregation.
        Merges + vocab publish under ONE new generation marker, so the
        pair is atomic: a crash mid-extend leaves the previous generation
        current and the retry re-runs from it (deterministic loop ⇒ the
        same result — replay-safe)."""
        from ocr_vector_db_spark.operators.index_maint import publish

        prior = self.merges()
        start = (prior[-1]["step"] + 1) if prior else 1
        vocab = self._sub("vocab").localCheckpoint()
        new, final_vocab = _train_loop(vocab, start, n_more)
        publish(self.spark, self._root,
                self._writer(merges_df(self.spark, prior + new), final_vocab))
        return self

    # ------------------------------------------------------------- apply

    def token_counts(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Segment with the stored merge table (`bpe_token_counts`)."""
        return bpe_token_counts(
            docs, self.merges(), text_col=text_col, id_col=id_col
        )
