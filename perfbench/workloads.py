"""The benchmark's workloads. `run.py` runs this module in a fresh child
process per run; it writes one JSON record to the path given by
`--result`.

Each workload has an untimed set-up (session start, inputs, warm pass on
throwaway inputs) and a timed part made of repeated cycles:

- index_build: one cycle builds a seeded Markdown batch into a fresh store
  and its three indexes (IVF, lexical, MinHash);
- query_serve: one cycle is a `search` request (scan-path top-k, dedupe,
  parent context, RAG over EchoLLM) followed by a `hybrid` request served
  from the persisted lexical and IVF indexes;
- query_suite: one cycle is a warm pass over a fixed list of declared
  `__spark_entry__.queries()` entries, in a seed-permuted order.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

import corpus
from tracing import Tracer

BUILD_DOCS = {"full": 30, "tiny": 12}
STORE_DOCS = {"full": 150, "tiny": 30}
WARM_PAIRS = {"full": 12, "tiny": 1}
SUITE_SCALE = {"full": 0.01, "tiny": 0.001}
IVF_CLUSTERS = 8
# a fixed KMeans iteration count that the fit always reaches, so that the
# number of build jobs does not depend on when a seed's fit converges
IVF_ITERATIONS = 5
NPROBE = 2
TOP_K = 10
DIM = 64
RECALL_QUERIES = 20

# Declared query entries timed by query_suite, grouped by what bounds them.
SUITE = [
    # relational, KNN and text
    "q01_pricing_summary_agg", "q16_knn_bruteforce_cosine", "q89_bm25_topk",
    # job-count bound
    "q99_semdedup_kmeans_invariants", "q105_minhash_incremental_screen",
    # Python/Arrow decode bound
    "q86_pdf_ingest",
    # memoized serving
    "q102_hybrid_indexed",
]


class Checks:
    """Counts operations and failed correctness checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------- the store


def trace_ingest_stages(tr: Tracer, spark, files) -> None:
    """Traced run only, outside the timed build: materialize the lazy
    ingest chain's two stages on their own with a `noop` write."""
    from ocr_vector_db_spark.sources import ingest

    frags = ingest.parse_fragments(ingest.files_df(spark, files))
    tr.call("sources.parse_fragments",
            lambda: frags.write.format("noop").mode("overwrite").save())
    tr.call("functions.build_embeddings",
            lambda: ingest.build_embeddings(frags, DIM)
            .write.format("noop").mode("overwrite").save())


class Store:
    """One store directory: entity tables plus the three serving indexes."""

    def __init__(self, spark, tracer: Tracer, base: str):
        from ocr_vector_db_spark.storage import EntityStore

        self.spark, self.tr, self.base = spark, tracer, base
        self.entities = EntityStore(spark, base)
        self.ivf = self.lex = self.mh = None

    def build(self, files: list[tuple[str, str, str]], minhash: bool = True) -> None:
        """ingest → save_ingest → IVF + lexical (+ MinHash) builds."""
        from ocr_vector_db_spark.operators.ann_index import IVFIndex
        from ocr_vector_db_spark.operators.lexical_index import LexicalIndex
        from ocr_vector_db_spark.operators.minhash_index import MinHashIndex
        from ocr_vector_db_spark.sources import ingest

        spark, tr = self.spark, self.tr
        fdf = ingest.files_df(spark, files)
        out = ingest.ingest(spark, fdf, dim=DIM)
        tr.call("storage.save_ingest", lambda: self.entities.save_ingest(out))
        emb = self.entities.read("embeddings").withColumnRenamed("fragment_id", "vec_id")
        self.ivf = tr.call("operators.ann_index.build", lambda: IVFIndex.build(
            spark, emb, os.path.join(self.base, "ivf"), num_clusters=IVF_CLUSTERS,
            max_iter=IVF_ITERATIONS))
        self.lex = tr.call("operators.lexical_index.build", lambda: LexicalIndex.build(
            spark, emb, os.path.join(self.base, "lex"), n_buckets=16,
            id_col="vec_id", text_col="content"))
        if not minhash:
            return
        docs = spark.createDataFrame([(p, c) for p, c, _ in files],
                                     "doc_id string, text string")
        self.mh = tr.call("operators.minhash_index.build", lambda: MinHashIndex.build(
            spark, docs, os.path.join(self.base, "minhash"), n_buckets=16))

    def counts_agree(self, n_files: int) -> bool:
        """The store's embeddings, the IVF vectors and the lexical index's
        document count agree, and MinHash holds one signature per file."""
        n_emb = self.entities.read("embeddings").count()
        return (n_emb > 0 and n_emb == self.ivf.vectors().count()
                == int(self.lex.stats().head()["n_docs"])
                and self.mh.signatures().count() == n_files)

    def pipeline(self, indexed: bool = True):
        from ocr_vector_db_spark.plans.pipeline import RetrievalPipeline

        return RetrievalPipeline(
            self.entities.read("embeddings"), self.entities.read("parents"),
            dim=DIM,
            lexical_index=self.lex if indexed else None,
            ivf_index=self.ivf if indexed else None,
            index_id_col="vec_id",
        )


# ---------------------------------------------------------------- requests


def _collect(df):
    return df.collect()


def search_request(tr: Tracer, pipe, query: str, checks: Checks) -> None:
    """Self-query filters, scan-path cosine top-k, dedupe and parent
    context (`RetrievalPipeline.retrieve`), then RAG over EchoLLM."""
    from ocr_vector_db_spark.plans import rag

    _, rows = tr.request("plans.pipeline.retrieve",
                         lambda: pipe.retrieve(query, top_k=TOP_K), _collect)
    resp = tr.call("plans.rag.generate", lambda: rag.generate(query, rows))
    sims = [r["similarity"] for r in rows]
    checks.op(0 < len(rows) <= TOP_K and sims == sorted(sims, reverse=True)
              and "[Source 1]" in resp.answer, f"search {query!r}")


def hybrid_request(tr: Tracer, pipe, query: str, checks: Checks) -> None:
    """BM25 + dense RRF fusion served from the persisted lexical and IVF
    indexes (`RetrievalPipeline.retrieve_hybrid`)."""
    _, rows = tr.request(
        "plans.pipeline.retrieve_hybrid",
        lambda: pipe.retrieve_hybrid(query, top_k=TOP_K, nprobe=NPROBE), _collect)
    # fewer than TOP_K rows is legal: the probed clusters and the matching
    # postings can hold fewer candidates than asked for
    ranks = [r["fused_rank"] for r in rows]
    rrf = [r["rrf"] for r in rows]
    checks.op(0 < len(rows) <= TOP_K and ranks == list(range(1, len(rows) + 1))
              and rrf == sorted(rrf, reverse=True), f"hybrid {query!r}")


def trace_request_operators(tr: Tracer, pipe, search_q: str, hybrid_q: str) -> None:
    """Traced run only, outside the timed requests: the operators behind
    each request class, each run on its own."""
    from ocr_vector_db_spark.functions.vector import embed_text
    from ocr_vector_db_spark.operators import knn
    from ocr_vector_db_spark.operators.context import expand_context

    top, _ = tr.request("operators.knn.knn_brute_force", lambda: knn.knn_brute_force(
        pipe.embeddings, embed_text(search_q, DIM), TOP_K, id_col="fragment_id"),
        _collect)
    tr.request("operators.context.expand_context",
               lambda: expand_context(top, pipe.parents, preview_chars=800), _collect)
    terms = [t for t in hybrid_q.lower().split() if t]
    tr.request("operators.lexical_index.search",
               lambda: pipe.lexical_index.search(terms, k=2 * TOP_K), _collect)
    tr.request("operators.ann_index.search", lambda: pipe.ivf_index.search(
        embed_text(hybrid_q, DIM), 2 * TOP_K, nprobe=NPROBE), _collect)


# --------------------------------------------------------------- workloads


class Run:
    def __init__(self, args, spark, tracer: Tracer, root: str, t_start: float):
        self.args, self.spark, self.tr, self.root = args, spark, tracer, root
        self.t_start = t_start
        self.size = "tiny" if args.tiny else "full"
        self.checks = Checks()
        self.setup_s = 0.0
        self.cycles_ms: list[float] = []
        self.items = 0
        self.timed_s = 0.0
        self.extra: dict[str, tuple[float, str]] = {}
        self.phases: dict[str, float] = {}
        self._last = t_start

    def phase(self, name: str) -> None:
        """Record the seconds since the previous phase mark (set-up split)."""
        now = time.perf_counter()
        self.phases[name] = now - self._last
        self._last = now

    def mark_setup(self) -> None:
        self.phase("warm")
        self.setup_s = time.perf_counter() - self.t_start

    def timed_loop(self, cycle, traced_cycles: int) -> None:
        """Run `cycle(i)` for about the run's seconds: at least once, and
        again while another cycle of median length still fits. A cycle
        returns (items completed, its timed seconds); checks it makes after
        its timed part count toward neither. The traced run does a fixed
        number of cycles instead, so its per-call counts repeat for a
        seed."""
        t0 = time.perf_counter()
        i = 0
        while True:
            items, secs = cycle(i)
            self.items += items
            self.timed_s += secs
            self.cycles_ms.append(secs * 1000.0)
            i += 1
            if self.tr.enabled:
                if i >= traced_cycles:
                    break
            elif (time.perf_counter() - t0 + statistics.median(self.cycles_ms) / 1000.0
                  > self.args.seconds):
                break


def index_build(run: Run) -> None:
    n = BUILD_DOCS[run.size]
    seed, spark, tr = run.args.seed, run.spark, run.tr
    # build latency keeps falling over the first builds of a JVM (JIT and
    # class loading, not data size): small throwaway builds move the timed
    # ones past most of that slope
    for w in range(3):
        Store(spark, Tracer(), os.path.join(run.root, f"warm{w}")).build(
            corpus.corpus(seed + 1_000_003, BUILD_DOCS["tiny"], tag=f"warm{w}"))
    run.mark_setup()
    sizes = []

    def cycle(i: int):
        files = corpus.corpus(seed, n, tag=f"b{i}")
        base = os.path.join(run.root, f"b{i}")
        store = Store(spark, tr, base)
        if tr.enabled:
            trace_ingest_stages(tr, spark, files)
        t0 = time.perf_counter()
        store.build(files)
        secs = time.perf_counter() - t0
        run.checks.op(store.counts_agree(n), f"build {i}: store/index row counts differ")
        in_bytes = sum(len(c.encode("utf-8")) for _, c, _ in files)
        sizes.append(_dir_bytes(base) / in_bytes)
        shutil.rmtree(base, ignore_errors=True)
        return n, secs

    run.timed_loop(cycle, traced_cycles=1)
    run.extra["build_docs_per_s"] = (run.items / run.timed_s, "docs/s")
    run.extra["store_bytes_per_input_byte"] = (sizes[0], "ratio")
    tr.set("quality.store_bytes_per_input_byte", sizes[0])


def query_serve(run: Run) -> None:
    seed, spark, tr = run.args.seed, run.spark, run.tr
    n_docs = STORE_DOCS[run.size]
    store = Store(spark, Tracer(), os.path.join(run.root, "store"))
    store.build(corpus.corpus(seed, n_docs, tag="store"), minhash=False)
    run.phase("store")
    pipe = store.pipeline()
    # request latency falls for the first few dozen requests of a JVM
    # (JIT); throwaway requests move the timed ones down that slope
    for q in corpus.requests(seed + 1_000_003, WARM_PAIRS[run.size]):
        search_request(Tracer(), pipe, q, run.checks)
        hybrid_request(Tracer(), pipe, q, run.checks)
    run.mark_setup()

    reqs = corpus.requests(seed, 4000)
    lat = {"search": [], "hybrid": []}

    def cycle(i: int):
        t0 = time.perf_counter()
        search_request(tr, pipe, reqs[2 * i], run.checks)
        t1 = time.perf_counter()
        hybrid_request(tr, pipe, reqs[2 * i + 1], run.checks)
        t2 = time.perf_counter()
        lat["search"].append((t1 - t0) * 1000.0)
        lat["hybrid"].append((t2 - t1) * 1000.0)
        if tr.enabled:
            trace_request_operators(tr, pipe, reqs[2 * i], reqs[2 * i + 1])
        return 2, t2 - t0

    run.timed_loop(cycle, traced_cycles=4)
    run.extra["qps"] = (run.items / run.timed_s, "req/s")
    for cls, xs in lat.items():
        run.extra[f"{cls}_p50_ms"] = (statistics.median(xs), "ms")
        run.extra[f"{cls}_p90_ms"] = (_percentile(xs, 0.9), "ms")
        run.extra[f"{cls}_requests"] = (len(xs), "count")

    # untimed checks: hybrid at nprobe = all clusters must equal the
    # scan-path fusion (the q102 == q90 invariant); IVF recall vs brute force
    q = reqs[0]
    a = [(r["id"], r["fused_rank"]) for r in
         pipe.retrieve_hybrid(q, top_k=TOP_K, nprobe=IVF_CLUSTERS).collect()]
    b = [(r["id"], r["fused_rank"]) for r in
         store.pipeline(indexed=False).retrieve_hybrid(q, top_k=TOP_K).collect()]
    run.checks.op(a == b, f"indexed hybrid != scan hybrid for {q!r}")
    from ocr_vector_db_spark.functions.vector import embed_text

    emb = store.entities.read("embeddings").withColumnRenamed("fragment_id", "vec_id")
    recall = store.ivf.recall_at_k(
        emb, [embed_text(q, DIM) for q in reqs[:RECALL_QUERIES]], k=TOP_K,
        nprobe=NPROBE)
    run.extra["recall_at_10"] = (recall, "ratio")
    tr.set("quality.recall_at_10", recall)


def write_star_tables(seed: int, scale: float, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    types = {"ts": pa.timestamp("us"), "o_orderdate": pa.timestamp("us"),
             "l_shipdate": pa.timestamp("us"),
             "embedding": pa.list_(pa.float32())}
    int32 = {"r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey",
             "s_nationkey", "p_size", "l_linenumber", "label"}
    for name, cols in corpus.star_tables(seed, scale).items():
        arrays = {}
        for col, vals in cols.items():
            t = types.get(col) or (pa.int32() if col in int32 else None)
            arrays[col] = pa.array(vals, type=t)
        pq.write_table(pa.table(arrays), os.path.join(path, f"{name}.parquet"))


def _count(df):
    return df.count()


def query_suite(run: Run) -> None:
    import __spark_entry__

    seed, spark, tr = run.args.seed, run.spark, run.tr
    sf = os.path.join(run.root, "sf")
    write_star_tables(seed, SUITE_SCALE[run.size], sf)
    run.phase("inputs")
    qs = __spark_entry__.queries()
    names = list(SUITE)
    random.Random(f"suite-{seed}").shuffle(names)
    # warm pass: builds the memoized indexes and plans, records row counts
    expected = {name: qs[name](spark, sf).count() for name in names}
    run.mark_setup()
    per_entry: dict[str, list[float]] = {n: [] for n in names}

    def cycle(i: int):
        secs = 0.0
        for name in names:
            t0 = time.perf_counter()
            _, n = tr.request(f"plans.families.{_short(name)}",
                              lambda: qs[name](spark, sf), _count)
            dt = time.perf_counter() - t0
            secs += dt
            per_entry[name].append(dt)
            run.checks.op(n == expected[name],
                          f"{name}: {n} rows, warm pass had {expected[name]}")
        return len(names), secs

    run.timed_loop(cycle, traced_cycles=1)
    run.extra["suite_s"] = (statistics.median(run.cycles_ms) / 1000.0, "s")
    for name in SUITE:
        run.extra[f"{_short(name)}_s"] = (statistics.median(per_entry[name]), "s")


def _short(name: str) -> str:
    return name.split("_")[0]


WORKLOADS = {"index_build": index_build, "query_serve": query_serve,
             "query_suite": query_suite}


# -------------------------------------------------------------------- main


def canary_s(spark) -> float:
    """A fixed pure-Spark job that runs no program code: a drift control.
    The salt changes per call so that no result is reused."""
    from pyspark.sql import functions as F

    canary_s.salt = getattr(canary_s, "salt", 0) + 1
    df = spark.range(0, 20_000_000, 1, 8).select(
        F.sum(F.hash("id", F.lit(canary_s.salt))).alias("h"))
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


def layer_table(tracer: Tracer) -> dict[str, float]:
    """The per-call summary plus the figures derived from it."""
    layers = tracer.summary()
    parse = (layers.get("sources.parse_fragments.exec_ms", 0.0)
             + layers.get("functions.build_embeddings.exec_ms", 0.0))
    if parse:
        layers["storage.save_ingest.recompute_ratio"] = (
            layers["storage.save_ingest.exec_ms"] / parse)
    fams = [n[: -len(".calls")] for n in layers
            if n.startswith("plans.families.q") and n.endswith(".calls")]
    for key in ("wall_s", "jobs", "tasks", "exec_ms", "shuffle_bytes", "catalyst_ms"):
        if fams:
            layers[f"plans.families.{key}"] = sum(layers[f"{f}.{key}"] for f in fams)
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    from ocr_vector_db_spark.session import get_spark

    tmp = os.environ.get("TMPDIR", args.root)
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap is sized up front, so growing it is no part of the timed
        # work; the JVM's own scratch files stay inside the run directory
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    tracer = Tracer(spark, enabled=bool(args.trace))
    tracer.set("session.get_spark.wall_s", time.perf_counter() - t0)
    canary = []
    if args.trace:
        canary_s(spark)  # JIT warm-up of the canary itself
        canary.append(canary_s(spark))

    run = Run(args, spark, tracer, args.root, t_start)
    run.phase("session")
    WORKLOADS[args.workload](run)
    run.phase("timed_and_checks")
    if args.trace:
        canary.append(canary_s(spark))
    spark.stop()
    run.phase("stop")

    end_to_end = {
        "setup_s": (run.setup_s, "s"),
        "cycle_p50_ms": (statistics.median(run.cycles_ms), "ms"),
        "items_per_s": (run.items / run.timed_s, "1/s"),
    }
    rec = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")),
        "attempted": run.checks.attempted, "failed": run.checks.failed,
        "messages": run.checks.messages,
        "cycles": len(run.cycles_ms),
        "phases_s": run.phases,
        "end_to_end": end_to_end,
        "workload_metrics": {
            **run.extra,
            "failed_op_ratio": (run.checks.failed / max(run.checks.attempted, 1),
                                "ratio"),
        },
    }
    if args.trace:
        layers = layer_table(tracer)
        layers["env.canary_s"] = statistics.median(canary)
        layers["env.cpus"] = rec["cpus"]
        for name, (value, _unit) in end_to_end.items():
            layers[f"trace.{name}"] = value
        rec["layers"] = layers
    with open(args.result, "w") as fh:
        json.dump(rec, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
