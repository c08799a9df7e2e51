"""The benchmark's own checks on its generators (no Spark needed):

- the same seed gives byte-identical inputs and request streams;
- every expected answer the generator computes matches a DuckDB
  evaluation over the generated (encoded) triples at a small seed.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import queries  # noqa: E402

SCALE = 0.05


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _stream_key(reqs):
    return [(r.text, r.rows, r.boolean) for r in reqs]


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (gen.rdf_graph(s, SCALE) for s in (7, 7, 8))
    assert np.array_equal(a.triples, b.triples)
    assert list(a.terms) == list(b.terms)
    assert not np.array_equal(a.triples[:100], c.triples[:100])
    for name, g in (("a", a), ("b", b)):
        gen.write_ntriples(g, str(tmp_path / f"{name}.nt"))
        gen.write_encoded(g, str(tmp_path / name / "s"), str(tmp_path / name / "d"))
    assert _digest(str(tmp_path / "a.nt")) == _digest(str(tmp_path / "b.nt"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert (_stream_key(queries.point_stream(a, 7, 12))
            == _stream_key(queries.point_stream(b, 7, 12)))
    assert gen.documents(7, 300).equals(gen.documents(7, 300))
    assert not gen.documents(7, 300).equals(gen.documents(8, 300))


def test_document_shares():
    docs = gen.documents(3, 2000)
    exact = 1 - docs["text"].nunique() / len(docs)
    assert 0.07 < exact < 0.13
    n_words = docs["text"].str.split().str.len()
    assert n_words.min() >= 5 and n_words.max() > 200


# -- expected answers against DuckDB ------------------------------------------

def _lit(col: str) -> str:
    """The value string of a literal term (what results-JSON carries)."""
    return f"regexp_extract({col}, '^\"(.*)\"', 1)"


def _iri(col: str) -> str:
    return f"regexp_extract({col}, '^<(.*)>$', 1)"


def _int(col: str) -> str:
    return f"CAST({_lit(col)} AS BIGINT)"


@pytest.fixture(scope="module")
def graph():
    return gen.rdf_graph(11, SCALE)


@pytest.fixture()
def con(graph):
    """The graph's triples as term strings in DuckDB table ``tt``."""
    t = graph.terms
    terms = pd.DataFrame({c: t[graph.triples[:, i] - 1]
                          for i, c in enumerate("spo")})
    con = duckdb.connect()
    con.register("terms", terms)
    con.execute("CREATE TABLE tt AS SELECT * FROM terms")
    yield con
    con.close()


def P(name: str) -> str:
    return f"'<{gen.EX}{name}>'"


def I(kind: str, i) -> str:  # noqa: E743
    return f"'<{gen.EX}{kind}/{int(i)}>'"


def _sql(req) -> str:
    m = req.meta
    t = req.template
    if t == "chain":
        return (f"SELECT {_iri('c.o')}, {_iri('n.o')} FROM tt c JOIN tt n ON n.s = c.o "
                f"WHERE c.s = {I('order', m['order'])} AND c.p = {P('placedBy')} "
                f"AND n.p = {P('inNation')}")
    if t == "star":
        return (f"SELECT {_iri('a.s')}, {_lit('st.o')}, {_lit('tot.o')} FROM tt a "
                f"JOIN tt st ON st.s = a.s AND st.p = {P('status')} "
                f"JOIN tt tot ON tot.s = a.s AND tot.p = {P('total')} "
                f"WHERE a.p = {P('placedBy')} AND a.o = {I('customer', m['customer'])}")
    if t == "ask":
        return (f"SELECT count(*) > 0 FROM tt WHERE s = {I('order', m['order'])} "
                f"AND p = {P('contains')} AND o = {I('product', m['product'])}")
    if t == "optional_filter":
        return (f"SELECT {_iri('a.s')}, {_lit('pr.o')} FROM tt a "
                f"JOIN tt tot ON tot.s = a.s AND tot.p = {P('total')} "
                f"LEFT JOIN tt pr ON pr.s = a.s AND pr.p = {P('priority')} "
                f"WHERE a.p = {P('placedBy')} AND a.o = {I('customer', m['customer'])} "
                f"AND {_int('tot.o')} > {m['threshold']}")
    if t == "write_read" or t in queries.READ_STATES:
        return (f"SELECT {_iri('a.s')}, {_lit('tot.o')} FROM tt a "
                f"JOIN tt tot ON tot.s = a.s AND tot.p = {P('total')} "
                f"WHERE a.p = {P('placedBy')} AND a.o = '<{m['customer']}>'")
    raise AssertionError(t)


def _assert_matches(con, req):
    got = con.execute(_sql(req)).fetchall()
    if req.boolean is not None:
        assert got[0][0] is req.boolean, req.text
        return
    got = [tuple(None if v == "" else v for v in r) for r in got]
    assert queries._sort_rows(got) == queries._sort_rows(req.rows), req.text


def test_expected_answers_match_duckdb(graph, con):
    reqs = queries.point_stream(graph, 11, 60)
    assert len({r.template for r in reqs}) == 4
    for req in reqs:
        _assert_matches(con, req)


def _term(v: str) -> str:
    return f"<{v}>" if v.startswith("http") else gen.int_lit(v)


def test_write_cycle_model_matches_duckdb(graph, con):
    """Replays the write cycles' updates on DuckDB's copy of the triples:
    each read's expected answer (from the Python model) must match."""
    model = queries.OrderModel(graph)
    rng = np.random.default_rng(5)
    for cycle in range(3):
        for req in queries.write_cycle(model, graph, rng, cycle):
            for s, p, o in req.meta.get("insert", []):
                con.execute("INSERT INTO tt VALUES (?, ?, ?)",
                            [_term(s), f"<{gen.EX}{p}>", _term(o)])
            for s, p, o in req.meta.get("delete", []):
                con.execute("DELETE FROM tt WHERE s = ? AND p = ? AND o = ?",
                            [_term(s), f"<{gen.EX}{p}>", _term(o)])
            if not req.update:
                _assert_matches(con, req)


def test_check_flags_wrong_answers():
    import json

    req = queries.Request("star", "q", rows=[("http://x/1", "7"), ("http://x/2", None)])

    def body(rows):
        return json.dumps({"head": {"vars": ["o", "t"]}, "results": {"bindings": [
            {k: {"type": "literal", "value": v} for k, v in zip("ot", r) if v is not None}
            for r in rows]}}).encode()

    assert queries.check(req, 200, body([("http://x/2", None), ("http://x/1", "7")])) is None
    assert queries.check(req, 200, body([("http://x/1", "7")]))
    assert queries.check(req, 200, body([("http://x/1", "7"), ("http://x/2", "1")]))
    assert queries.check(req, 500, b"boom")
    ask = queries.Request("ask", "q", boolean=True)
    assert queries.check(ask, 200, b'{"head": {}, "boolean": true}') is None
    assert queries.check(ask, 200, b'{"head": {}, "boolean": false}')
    upd = queries.Request("insert", "u", update=True)
    assert queries.check(upd, 204, b"") is None
    assert queries.check(upd, 403, b"disabled")
