"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from one integer
seed: Markdown documents over a Zipf vocabulary, request texts, and a small
star-schema table set for the declared query suite. The same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import random

# Letters chosen so that no generated word contains a substring the query
# optimizer reads as a view or language hint ("py", "js", "go", "code", ...).
_ONSETS = ["b", "d", "f", "k", "l", "m", "n", "r", "s", "t", "v", "z",
           "br", "dr", "kl", "st", "tr", "fl"]
_VOWELS = ["a", "e", "i", "u", "ai", "ea"]
_HINTS = ("py", "js", "ts", "go", "java", "rust", "node", "code", "function",
          "class", "method", "implement", "explain", "what", "concept", "mean")


def vocabulary(seed: int, size: int = 3000) -> list[str]:
    """`size` distinct pseudo-words, most frequent first."""
    rng = random.Random(f"vocab-{seed}")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                    for _ in range(rng.randint(2, 4)))
        if w in seen or any(h in w for h in _HINTS):
            continue
        seen.add(w)
        words.append(w)
    return words


class Zipf:
    """Draws words with probability proportional to 1 / rank**s."""

    def __init__(self, words: list[str], s: float = 1.1):
        self.words = words
        weights = [1.0 / (r + 1) ** s for r in range(len(words))]
        total = 0.0
        self.cum = []
        for w in weights:
            total += w
            self.cum.append(total)

    def draw(self, rng: random.Random, n: int) -> list[str]:
        return rng.choices(self.words, cum_weights=self.cum, k=n)


def markdown_doc(rng: random.Random, zipf: Zipf, title_no: int) -> str:
    """A heading, 2-5 paragraphs and, in about 40% of docs, a fenced
    Python block."""
    title = " ".join(zipf.draw(rng, 3)).capitalize()
    parts = [f"# {title} {title_no}"]
    for _ in range(rng.randint(2, 5)):
        words = zipf.draw(rng, rng.randint(25, 70))
        parts.append(" ".join(words).capitalize() + ".")
    if rng.random() < 0.4:
        a, b, c = zipf.draw(rng, 3)
        parts.append(
            "```python\n"
            f"def {a}_{b}(xs):\n"
            f"    {c} = [x * {rng.randint(2, 9)} for x in xs]\n"
            f"    return sum({c})\n"
            "```"
        )
    return "\n\n".join(parts) + "\n"


def corpus(seed: int, n_docs: int, tag: str = "doc") -> list[tuple[str, str, str]]:
    """[(source_path, markdown, "md")]. `tag` names the batch: it keeps the
    paths, and so the document ids, of separate batches apart."""
    words = vocabulary(seed)
    zipf = Zipf(words)
    rng = random.Random(f"corpus-{seed}-{tag}")
    return [
        (f"/bench/{tag}/{i:05d}.md", markdown_doc(rng, zipf, i), "md")
        for i in range(n_docs)
    ]


def requests(seed: int, n: int) -> list[str]:
    """Request texts: 2-4 vocabulary words, every third one phrased so the
    self-query stage sets a view (and, for code, a language) filter."""
    words = vocabulary(seed)
    zipf = Zipf(words[:800])
    rng = random.Random(f"requests-{seed}")
    out = []
    for i in range(n):
        body = " ".join(zipf.draw(rng, rng.randint(2, 4)))
        if i % 6 == 2:
            body = f"python function {body}"
        elif i % 6 == 5:
            body = f"explain {body}"
        out.append(body)
    return out


def star_tables(seed: int, scale: float) -> dict[str, dict[str, list]]:
    """Column dicts for the star-schema tables the declared query suite
    reads (region, nation, customer, supplier, part, orders, lineitem,
    events, documents, embeddings). `scale` = 1.0 gives 6M lineitems."""
    import math

    rng = random.Random(f"star-{seed}")
    n_cust, n_supp, n_part = (max(50, int(150_000 * scale)),
                              max(10, int(10_000 * scale)),
                              max(50, int(200_000 * scale)))
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(50_000 * scale)
    n_emb = max(500, int(20_000 * scale))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t = {}
    t["region"] = {"r_regionkey": list(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    t["customer"] = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
    }
    adj = ["large", "hot", "blue", "small", "red", "green"]
    noun = ["ring", "bolt", "nut", "gear", "pipe"]
    t["part"] = {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"])
                   for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(n_part)],
    }
    day = 86_400_000_000  # microseconds
    base = 694_224_000_000_000  # 1992-01-01
    t["orders"] = {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(900, 500_000), 2) for _ in range(n_ord)],
        "o_orderdate": [base + rng.randrange(3650) * day for _ in range(n_ord)],
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": [rng.randrange(n_ord) for _ in range(n_line)],
        "l_partkey": [rng.randrange(n_part) for _ in range(n_line)],
        "l_suppkey": [rng.randrange(n_supp) for _ in range(n_line)],
        "l_linenumber": [rng.randint(1, 7) for _ in range(n_line)],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_line)],
        "l_extendedprice": [round(rng.uniform(900, 100_000), 2) for _ in range(n_line)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_line)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_line)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_line)],
        "l_linestatus": [rng.choice("OF") for _ in range(n_line)],
        "l_shipdate": [base + rng.randrange(3650) * day for _ in range(n_line)],
    }
    ev_base = 1_704_067_200_000_000  # 2024-01-01
    ts = sorted(ev_base + rng.randrange(30 * day) for _ in range(n_ev))
    t["events"] = {
        "event_id": list(range(n_ev)),
        "ts": ts,
        "user_id": [rng.randrange(max(10, n_ev // 67)) for _ in range(n_ev)],
        "event_type": [rng.choice(["view", "click", "purchase", "signup", "error"])
                       for _ in range(n_ev)],
        "value": [round(rng.uniform(0, 200), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)],
    }
    doc_words = ["spark", "vector", "column", "line", "part", "scan", "fast",
                 "query", "agg", "table", "hash", "slow", "value", "filter",
                 "customer", "stream", "key", "group", "order", "window",
                 "join", "small", "data", "batch", "sort", "the", "a"]
    texts = [" ".join(rng.choice(doc_words) for _ in range(rng.randint(8, 90)))
             for _ in range(n_doc)]
    t["documents"] = {
        "doc_id": list(range(n_doc)),
        "text": texts,
        "lang": [rng.choice(["en", "en", "en", "zh", "es", "de", "fr"])
                 for _ in range(n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(x) for x in texts],
    }
    dim = 64
    emb, labels = [], []
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    for _ in range(n_emb):
        c = rng.randrange(10)
        v = [centers[c][d] + rng.gauss(0, 0.8) for d in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        emb.append([x / norm for x in v])
        labels.append(c)
    t["embeddings"] = {"vec_id": list(range(n_emb)), "embedding": emb, "label": labels}
    return t
