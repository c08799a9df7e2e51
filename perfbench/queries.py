"""Seeded request streams over a generated graph, each request with the
answer the endpoint must give.

A ``Request`` carries the SPARQL text and its expected answer, computed
here from the generator's entity tables (never by the program under
test). ``rows`` is a list of tuples of the ``value`` strings the W3C
results-JSON document carries (``None`` for an unbound variable),
compared as a multiset.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from itertools import zip_longest

import numpy as np

from gen import EX, PREFIX, STATUSES, Graph, zipf_choice


@dataclass
class Request:
    template: str
    text: str
    rows: list | None = None  # SELECT answer
    boolean: bool | None = None  # ASK answer
    update: bool = False  # SPARQL UPDATE: expects 204, no body
    meta: dict = field(default_factory=dict)


def u(kind: str, i) -> str:
    return f"{EX}{kind}/{int(i)}"


def _sort_rows(rows):
    return sorted(rows, key=lambda r: tuple("" if v is None else v for v in r))


def check(req: Request, status: int, body: bytes) -> str | None:
    """None when the response is the expected answer, else a reason."""
    if req.update:
        return None if status == 204 else f"status {status}"
    if status != 200:
        return f"status {status}: {body[:200]!r}"
    doc = json.loads(body)
    if req.boolean is not None:
        got = doc.get("boolean")
        return None if got is req.boolean else f"ASK {got} != {req.boolean}"
    names = doc["head"]["vars"]
    got = [
        tuple(b[v]["value"] if v in b else None for v in names)
        for b in doc["results"]["bindings"]
    ]
    want, got = _sort_rows(req.rows), _sort_rows(got)
    if got != want:
        diff = next((g, w) for g, w in zip_longest(got, want) if g != w)
        return (f"{len(got)} rows, {len(want)} expected; first difference "
                f"(got, expected) = {diff}")
    return None


# -- point workload ---------------------------------------------------------

# One round of the point mix: the four selective templates in equal
# shares. No traffic log exists to weight them by, so none is favoured.
POINT_ROUND = ("chain", "star", "ask", "optional_filter")


def point_stream(g: Graph, seed: int, n: int) -> list[Request]:
    """Selective queries in rounds of ``POINT_ROUND``, with Zipf-skewed
    constants that repeat (``gen.zipf_choice``, an assumed skew): a
    bound-order 2-hop chain, a bound-customer star, an ASK and a small
    OPTIONAL/FILTER."""
    rng = np.random.default_rng([seed, 3])
    o, cust, cont = g.orders, g.customers, g.contains
    by_cust = o.groupby("customer")
    small = by_cust.size()
    small = small[small <= 20].index.to_numpy()
    order_pick = zipf_choice(rng, len(o), n)
    cust_pick = small[zipf_choice(rng, len(small), n)]
    ask_row = rng.integers(0, len(cont), n)
    ask_miss = rng.random(n) < 0.5
    thresholds = rng.integers(100_000, 400_000, n)
    pairs = set(zip(cont["order"].to_numpy().tolist(),
                    cont["product"].to_numpy().tolist()))
    n_prod = len(g.products)
    out = []
    for i in range(n):
        t = POINT_ROUND[i % len(POINT_ROUND)]
        if t == "chain":
            k = int(order_pick[i])
            c = int(o.at[k, "customer"])
            out.append(Request(
                "chain",
                PREFIX + f"SELECT ?c ?n WHERE {{ <{u('order', k)}> ex:placedBy ?c . ?c ex:inNation ?n }}",
                rows=[(u("customer", c), u("nation", cust.at[c, "nation"]))],
                meta={"order": k},
            ))
        elif t == "star":
            c = int(cust_pick[i])
            sub = o.loc[by_cust.indices[c]]
            out.append(Request(
                "star",
                PREFIX + f"SELECT ?o ?st ?tot WHERE {{ ?o ex:placedBy <{u('customer', c)}> . ?o ex:status ?st . ?o ex:total ?tot }}",
                rows=[(u("order", r.order), STATUSES[r.status], str(r.total))
                      for r in sub.itertuples()],
                meta={"customer": c},
            ))
        elif t == "ask":
            k, p = (int(x) for x in cont.iloc[ask_row[i]])
            if ask_miss[i]:
                p = int(rng.integers(0, n_prod))
            out.append(Request(
                "ask",
                PREFIX + f"ASK {{ <{u('order', k)}> ex:contains <{u('product', p)}> }}",
                boolean=(k, p) in pairs,
                meta={"order": k, "product": p},
            ))
        else:
            c = int(cust_pick[i])
            thr = int(thresholds[i])
            sub = o.loc[by_cust.indices[c]]
            sub = sub[sub["total"] > thr]
            out.append(Request(
                "optional_filter",
                PREFIX + f"SELECT ?o ?pr WHERE {{ ?o ex:placedBy <{u('customer', c)}> . ?o ex:total ?tot . FILTER(?tot > {thr}) OPTIONAL {{ ?o ex:priority ?pr }} }}",
                rows=[(u("order", r.order), str(r.priority) if r.priority else None)
                      for r in sub.itertuples()],
                meta={"customer": c, "threshold": thr},
            ))
    return out


# -- write workload -----------------------------------------------------------

class OrderModel:
    """The store's placedBy/total facts as a Python model that the
    write cycle's updates are applied to, so every read after a write
    has an expected answer."""

    def __init__(self, g: Graph):
        self.placed = dict(zip(g.orders["order"].map(lambda k: u("order", k)),
                               g.orders["customer"].map(lambda c: u("customer", c))))
        self.total = dict(zip(g.orders["order"].map(lambda k: u("order", k)),
                              g.orders["total"].astype(str)))

    def star(self, cust_iri: str, template: str = "write_read") -> Request:
        rows = [(o, self.total[o]) for o, c in self.placed.items()
                if c == cust_iri and o in self.total]
        return Request(
            template,
            PREFIX + f"SELECT ?o ?tot WHERE {{ ?o ex:placedBy <{cust_iri}> . ?o ex:total ?tot }}",
            rows=rows,
            meta={"customer": cust_iri},
        )


# The two store states a write cycle reads in, one read template each,
# and the reads per state: the first read after the writes is the
# slowest (its plan shape is new), and the median of three drops it.
READ_STATES = ("read_before", "read_after_writes")
READS_PER_STATE = 3


def write_cycle(model: OrderModel, g: Graph, rng, cycle: int) -> list[Request]:
    """One write cycle: reads, INSERT DATA (a new order with new terms,
    placed by an existing customer), DELETE DATA (an existing order of
    that customer loses its placedBy and total), reads. Each group of
    reads is the written customer's star, which checks that both
    writes are visible, then the stars of ``READS_PER_STATE - 1``
    other customers, which check that nothing else changed."""
    o = g.orders
    counts = o.groupby("customer").size()
    eligible = counts[(counts >= 2) & (counts <= 50)].index.to_numpy()
    picks = rng.choice(len(eligible), READS_PER_STATE, replace=False)
    c, *others = (u("customer", eligible[i]) for i in picks)
    victims = [k for k, cc in model.placed.items() if cc == c]
    victim = victims[rng.integers(0, len(victims))]
    new = f"{EX}order/new{cycle}"
    new_total = str(1_000_000 + cycle)

    def read(state: str) -> list[Request]:
        return [model.star(x, state) for x in [c, *others]]

    reqs = read(READ_STATES[0])
    ins = Request(
        "insert",
        PREFIX + f"INSERT DATA {{ <{new}> ex:placedBy <{c}> . <{new}> ex:total {new_total} }}",
        update=True,
        meta={"insert": [(new, "placedBy", c), (new, "total", new_total)]},
    )
    model.placed[new], model.total[new] = c, new_total
    dele = Request(
        "delete",
        PREFIX + f"DELETE DATA {{ <{victim}> ex:placedBy <{c}> . <{victim}> ex:total {model.total[victim]} }}",
        update=True,
        meta={"delete": [(victim, "placedBy", c),
                         (victim, "total", model.total[victim])]},
    )
    del model.placed[victim], model.total[victim]
    return reqs + [ins, dele, *read(READ_STATES[1])]
