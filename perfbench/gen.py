"""Seeded input generators for the benchmark, with expected answers.

Everything here is pure numpy/pandas: the program under test only ever
sees the files these functions write. The same ``seed`` gives the same
graph, the same documents and the same request stream.

The RDF graph is an order/customer/product schema: orders are placed by
customers (Zipf-skewed, so a few customers place many orders), contain
1-3 products, and carry a status, a total, a year and sometimes a
priority; customers live in one of 25 nations and one of 5 segments;
products belong to one of 20 categories. At ``scale=1`` it has about
390k triples and 150k distinct terms.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

EX = "http://example.org/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
PREFIX = f"PREFIX ex: <{EX}> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "

PREDICATES = (
    "placedBy", "status", "total", "year", "contains", "priority",
    "inNation", "name", "segment", "category", "price", "inRegion",
)
STATUSES = ("O", "F", "P")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
YEARS = tuple(range(1992, 1999))
N_NATIONS, N_REGIONS, N_CATEGORIES = 25, 5, 20


def iri(kind: str, i) -> str:
    return f"<{EX}{kind}/{i}>"


def int_lit(v) -> str:
    return f'"{int(v)}"^^<{XSD_INT}>'


def str_lit(v: str) -> str:
    return f'"{v}"'


def zipf_choice(rng, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """``size`` draws from 0..n-1 with P(rank k) ~ 1/k^a; ranks are
    shuffled onto ids so popularity is not correlated with the id. The
    default exponent is an assumption (no access log to fit it to): a
    skew at which the hottest constants repeat within one run."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    ranks = rng.choice(n, size=size, p=w / w.sum())
    return rng.permutation(n)[ranks]


@dataclass
class Graph:
    """Entity tables of one generated graph plus its encoded form."""

    orders: pd.DataFrame  # order, customer, status, total, year, priority
    contains: pd.DataFrame  # order, product
    customers: pd.DataFrame  # customer, nation, segment
    products: pd.DataFrame  # product, category, price
    terms: np.ndarray  # object array; id i+1 is terms[i]
    triples: np.ndarray  # int64 (n, 3) of term ids

    @property
    def n_triples(self) -> int:
        return int(self.triples.shape[0])


def rdf_graph(seed: int, scale: float = 1.0) -> Graph:
    rng = np.random.default_rng([seed, 1])
    n_cust = int(15000 * scale)
    n_prod = int(5000 * scale)
    n_ord = int(55000 * scale)
    customers = pd.DataFrame({
        "customer": np.arange(n_cust),
        "nation": rng.integers(0, N_NATIONS, n_cust),
        "segment": rng.integers(0, len(SEGMENTS), n_cust),
    })
    products = pd.DataFrame({
        "product": np.arange(n_prod),
        "category": rng.integers(0, N_CATEGORIES, n_prod),
        "price": rng.integers(1, 1000, n_prod),
    })
    orders = pd.DataFrame({
        "order": np.arange(n_ord),
        "customer": zipf_choice(rng, n_cust, n_ord),
        "status": rng.integers(0, len(STATUSES), n_ord),
        "total": rng.integers(100, 500_000, n_ord),
        "year": rng.integers(YEARS[0], YEARS[-1] + 1, n_ord),
        "priority": np.where(rng.random(n_ord) < 0.3,
                             rng.integers(1, 6, n_ord), 0),
    })
    k = rng.integers(1, 4, n_ord)
    pairs = np.unique(
        np.repeat(np.arange(n_ord), k) * n_prod
        + rng.integers(0, n_prod, int(k.sum()))
    )
    contains = pd.DataFrame({"order": pairs // n_prod,
                             "product": pairs % n_prod})

    # -- encode: one block of term ids per term kind ----------------------
    terms: list[str] = []

    def block(strings) -> int:
        base = len(terms) + 1
        terms.extend(strings)
        return base

    pred = {p: block([f"<{EX}{p}>"]) for p in PREDICATES}
    region0 = block(iri("region", i) for i in range(N_REGIONS))
    nation0 = block(iri("nation", i) for i in range(N_NATIONS))
    cat0 = block(iri("category", i) for i in range(N_CATEGORIES))
    seg0 = block(str_lit(s) for s in SEGMENTS)
    status0 = block(str_lit(s) for s in STATUSES)
    cust0 = block(iri("customer", i) for i in range(n_cust))
    prod0 = block(iri("product", i) for i in range(n_prod))
    order0 = block(iri("order", i) for i in range(n_ord))
    name0 = {
        kind: block(str_lit(f"{kind.title()} {i}") for i in range(n))
        for kind, n in (("region", N_REGIONS), ("nation", N_NATIONS),
                        ("category", N_CATEGORIES), ("customer", n_cust),
                        ("product", n_prod))
    }
    int_values = np.unique(np.concatenate([
        products["price"].to_numpy(), orders["total"].to_numpy(),
        np.asarray(YEARS), np.arange(1, 6),
    ]))
    int0 = block(int_lit(v) for v in int_values)

    def int_ids(values) -> np.ndarray:
        return int0 + np.searchsorted(int_values, values)

    parts = []

    def add(s, p: str, o) -> None:
        s = np.asarray(s, dtype=np.int64)
        o = np.broadcast_to(np.asarray(o, dtype=np.int64), s.shape)
        parts.append(np.stack([s, np.full_like(s, pred[p]), o], axis=1))

    o_ids = order0 + orders["order"].to_numpy()
    add(o_ids, "placedBy", cust0 + orders["customer"].to_numpy())
    add(o_ids, "status", status0 + orders["status"].to_numpy())
    add(o_ids, "total", int_ids(orders["total"].to_numpy()))
    add(o_ids, "year", int_ids(orders["year"].to_numpy()))
    prio = orders[orders["priority"] > 0]
    add(order0 + prio["order"].to_numpy(), "priority",
        int_ids(prio["priority"].to_numpy()))
    add(order0 + contains["order"].to_numpy(), "contains",
        prod0 + contains["product"].to_numpy())
    c_ids = cust0 + customers["customer"].to_numpy()
    add(c_ids, "inNation", nation0 + customers["nation"].to_numpy())
    add(c_ids, "segment", seg0 + customers["segment"].to_numpy())
    add(c_ids, "name", name0["customer"] + customers["customer"].to_numpy())
    p_ids = prod0 + products["product"].to_numpy()
    add(p_ids, "category", cat0 + products["category"].to_numpy())
    add(p_ids, "price", int_ids(products["price"].to_numpy()))
    add(p_ids, "name", name0["product"] + products["product"].to_numpy())
    nat = np.arange(N_NATIONS)
    add(nation0 + nat, "inRegion", region0 + nat % N_REGIONS)
    add(nation0 + nat, "name", name0["nation"] + nat)
    add(region0 + np.arange(N_REGIONS), "name",
        name0["region"] + np.arange(N_REGIONS))
    add(cat0 + np.arange(N_CATEGORIES), "name",
        name0["category"] + np.arange(N_CATEGORIES))
    triples = np.concatenate(parts)
    # a file order unrelated to the generation order
    triples = triples[rng.permutation(len(triples))]
    return Graph(orders, contains, customers, products,
                 np.asarray(terms, dtype=object), triples)


def write_ntriples(g: Graph, path: str) -> int:
    """Write the graph as one N-Triples file; returns its size in bytes."""
    t = g.terms
    s, p, o = (t[g.triples[:, i] - 1] for i in range(3))
    lines = s + " " + p + " " + o + " .\n"
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(lines.tolist()))
    return os.path.getsize(path)


def write_encoded(g: Graph, store_dir: str, dict_dir: str) -> None:
    """The pre-encoded contract: integer triples + an (id, term)
    dictionary, both as parquet (what ``Engine.save`` writes and
    ``Engine.open`` reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(store_dir, exist_ok=True)
    os.makedirs(dict_dir, exist_ok=True)
    n = g.n_triples
    step = max(1, -(-n // 4))
    for i, lo in enumerate(range(0, n, step)):
        chunk = g.triples[lo:lo + step]
        pq.write_table(
            pa.table({"s": chunk[:, 0], "p": chunk[:, 1], "o": chunk[:, 2]}),
            os.path.join(store_dir, f"part-{i:05d}.parquet"),
        )
    pq.write_table(
        pa.table({
            "id": np.arange(1, len(g.terms) + 1, dtype=np.int64),
            "term": pa.array(g.terms.tolist(), type=pa.string()),
        }),
        os.path.join(dict_dir, "part-00000.parquet"),
    )


# -- documents -------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")


def _vocabulary(n: int = 3000) -> np.ndarray:
    """``n`` distinct pronounceable pseudo-words (fixed, seed-independent)."""
    rng = np.random.default_rng(0)
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    words: dict[str, None] = {}
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words["".join(str(rng.choice(cons)) + str(rng.choice(vows))
                      for _ in range(k))] = None
    return np.asarray(list(words), dtype=object)


def documents(seed: int, n_docs: int, exact_dup: float = 0.10,
              near_dup: float = 0.10) -> pd.DataFrame:
    """``(doc_id, text)``: ``exact_dup`` of the docs copy an earlier doc
    verbatim, ``near_dup`` copy one with a single word changed; the rest
    are fresh text of 5 to ~300 words (log-uniform), about a quarter of
    them stopwords, with some punctuation."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary()
    stop = np.asarray(STOPWORDS, dtype=object)
    lengths = np.exp(rng.uniform(np.log(5), np.log(300), n_docs)).astype(int)
    kind = rng.random(n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and kind[i] < exact_dup:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 0 and kind[i] < exact_dup + near_dup:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
            continue
        n = lengths[i]
        words = np.where(rng.random(n) < 0.25,
                         stop[rng.integers(0, len(stop), n)],
                         vocab[rng.integers(0, len(vocab), n)])
        punct = rng.random(n) < 0.05
        words = [w + "," if p else w for w, p in zip(words, punct)]
        texts.append(" ".join(words) + ".")
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                         "text": texts})


def write_documents(docs: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(path, "part-00000.parquet"))
