"""Central query registry: every implemented operator as a named query with
its DuckDB oracle twin.

This is the single source of truth behind ``__spark_entry__.py`` (driver
contract), ``tests/test_registry.py`` (runs every entry against the oracle at
sf0.001), and ``bench.py`` (times the headline subset at sf0.1).

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Column names/aliases MUST match between the two — the driver sorts columns by
name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfproject_msc_spark import queries as Q
from rdfproject_msc_spark.dictionary import Dictionary
from rdfproject_msc_spark.operators import (
    dedup,
    multimodal,
    packing,
    sampling,
    similarity,
    textstats,
)
from rdfproject_msc_spark.operators.bm25 import (
    bm25_oracle_sql as _bm25_oracle_sql,
    bm25_topk as _bm25_topk,
)
from rdfproject_msc_spark.sources.derived import (
    DICTIONARY_SQL,
    TRIPLES_SQL,
    P_BY_USER,
    P_HAS_LABEL,
    P_HAS_TYPE,
    P_IN_NATION,
    P_IN_REGION,
    P_LINKED_EVENT,
    P_PLACED_BY,
    dictionary_df,
    triples_df,
)
from rdfproject_msc_spark.sources.tables import load_table
from rdfproject_msc_spark.sparql.planner import sparql_to_df
from rdfproject_msc_spark.store import TripleStore

# ---------------------------------------------------------------------------
# shared SQL fragments

TRIPLES_CTE = f"WITH triples AS ({TRIPLES_SQL})"
SPLIT_CTE = (
    f"{TRIPLES_CTE}, "
    "Negative AS (SELECT * FROM triples WHERE s < 0), "
    "Positive AS (SELECT * FROM triples WHERE s >= 0)"
)

ORDER_1 = 12  # :order_1  (o_orderkey=1 → 1*10+2)
CUSTOMER_7 = 71  # :customer_7

_DEC = "decimal(18,2)"

# shared LSH parameters for the embeddings operators (ann_lsh_topk,
# cosine_neardup): dims of the testdata embeddings, 16 hyperplanes, 8 bands
_ANN = dict(dim=64, n_planes=16, bands=8, seed=42, k=10, query_id=0)


def _store(spark: SparkSession, sf_dir: str, **kw) -> TripleStore:
    # cache=True: the triple relation is DERIVED (6-way union over 4 parquet
    # tables); multi-leg self-joins would otherwise re-derive it per leg.
    kw.setdefault("cache", True)
    return TripleStore(triples_df(spark, sf_dir), **kw)


_STORE_FORMAT = "f1"


def _persisted_store(
    spark: SparkSession,
    sf_dir: str,
    layout: str = "sign_split",
    cluster_by: str | None = "s",
) -> TripleStore:
    """Write-once/read-forever path: persist the laid-out store as Parquet
    (sign partition dirs + cluster-key row-group order), then answer from
    the files. This is the engine's actual 100 TB read path — layout cost is
    paid at ingest, after which every query gets directory pruning and
    row-group skipping instead of an in-query shuffle (store.py:24-27)."""
    import os
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir))
    # _STORE_FORMAT versions the on-disk layout: /tmp persists across
    # rounds, and a write-once guard must never accept a store written by
    # an older layout format. Bump it whenever TripleStore.write changes.
    path = os.path.join(
        tempfile.gettempdir(),
        "rdfproject_msc_store",
        f"{tag}_{layout}_{cluster_by or 'none'}_{_STORE_FORMAT}",
    )
    # write-once, really: a completed Parquet write leaves _SUCCESS at the
    # root — if it's there, the layout cost is already paid and re-writing
    # would be a full re-ingest per query (fatal at 100 TB; the input
    # testdata dirs are immutable, so no staleness check is needed).
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _store(spark, sf_dir, layout=layout, cluster_by=cluster_by).write(path)
    return TripleStore.read(spark, path, layout=layout, cluster_by=cluster_by)


def _dict(spark: SparkSession, sf_dir: str) -> Dictionary:
    # cache for the same reason _store caches: the dictionary is DERIVED
    # (5-way union over 5 parquet tables), and every term join — decode,
    # string-filter attachment — re-derives it into its own broadcast
    # exchange otherwise (measured ~1s per join at sf0.1 vs ~0.1s cached).
    # Spark's CacheManager dedupes by logical plan, so repeated _dict calls
    # share one materialization.
    return Dictionary(dictionary_df(spark, sf_dir).cache())


def _dec(c: str) -> F.Column:
    return F.col(c).cast(_DEC)


def _money(col, alias: str, nd: int = 2) -> F.Column:
    """Exact decimal sum → round IN DECIMAL → double.

    Rounding must happen while the value is still an exact decimal: rounding
    after a double cast hits round-half ties (e.g. sum=...955 → double
    ...95499999) where Spark's HALF_UP on the shortest-repr string and
    DuckDB's rounding of the binary value diverge by one cent.
    """
    return F.round(F.sum(col), nd).cast("double").alias(alias)


def _equiv_union(a: DataFrame, *others: DataFrame) -> DataFrame:
    """Multiset-equivalence harness (registry-only; NOT a production op):
    returns exactly ``a`` iff every other result is multiset-equal to it —
    any missing/extra row survives the symmetric EXCEPT ALL difference and
    breaks the driver's row-count/hash gate. Lets one registry entry pin N
    implementation/layout variants against one oracle (the layout-invariance
    the reference asserted informally by running four drivers)."""
    out = a
    for b in others:
        out = out.union(a.exceptAll(b)).union(b.exceptAll(a))
    return out


# ---------------------------------------------------------------------------
# RDF / reference-parity queries (SURVEY.md §2)


def rdf_path_2hop(spark, sf_dir):
    store = _store(spark, sf_dir)
    return Q.path_2hop(store, ORDER_1, P_PLACED_BY, P_IN_NATION, P_IN_REGION)


RDF_PATH_2HOP_SQL = f"""{TRIPLES_CTE}
SELECT t0.s AS s0, t0.p AS p0, t0.o AS o0,
       t1.s AS s1, t1.p AS p1, t1.o AS o1,
       t2.s AS s2, t2.p AS p2, t2.o AS o2
FROM triples t0
JOIN triples t1 ON t0.o = t1.s
JOIN triples t2 ON t1.o = t2.s
WHERE t0.s = {ORDER_1} AND t0.p = {P_PLACED_BY}
  AND t1.p = {P_IN_NATION} AND t2.p = {P_IN_REGION}
"""


def rdf_path_2hop_all(spark, sf_dir):
    """Unbound-subject 2-hop over the PERSISTED subject-clustered store —
    round 1 built the clustered layout inside the query (a full shuffle that
    bought nothing); now the layout is written once and the query reads the
    laid-out Parquet."""
    store = _persisted_store(spark, sf_dir, layout="single", cluster_by="s")
    return Q.path_2hop(store, None, P_PLACED_BY, P_IN_NATION, P_IN_REGION)


RDF_PATH_2HOP_ALL_SQL = f"""{TRIPLES_CTE}
SELECT t0.s AS s0, t0.p AS p0, t0.o AS o0,
       t1.s AS s1, t1.p AS p1, t1.o AS o1,
       t2.s AS s2, t2.p AS p2, t2.o AS o2
FROM triples t0
JOIN triples t1 ON t0.o = t1.s
JOIN triples t2 ON t1.o = t2.s
WHERE t0.p = {P_PLACED_BY} AND t1.p = {P_IN_NATION} AND t2.p = {P_IN_REGION}
"""


def rdf_path_2hop_store(spark, sf_dir):
    """Bound-subject 2-hop over the persisted sign-split store: the sign
    routing is a Parquet PartitionFilter (directory pruning) and the s=const
    predicate is a PushedFilter hitting the cluster-key row-group stats —
    the full 100 TB read-path story in one plan."""
    store = _persisted_store(spark, sf_dir, layout="sign_split", cluster_by="s")
    return Q.path_2hop(store, ORDER_1, P_PLACED_BY, P_IN_NATION, P_IN_REGION)


def rdf_layout_matrix(spark, sf_dir):
    """The reference's FULL 4-driver (layout × cluster-key) matrix in one
    oracle-checked entry: the bound-subject 2-hop runs over all four
    persisted layouts — single+s (PartitionQueryingSubject.java:100),
    single+p (PartitionQueryingPredicate.java:100 — the deliberately skewed
    predicate clustering key), split+s (PartitionQueryingBRDSubject.java:
    100-146), split+p (PartitionQueryingBRDPredicate.java:100-146) — and the
    multiset-equivalence union pins layout invariance: any layout producing
    a divergent row breaks the row-count gate."""
    results = [
        Q.path_2hop(
            _persisted_store(spark, sf_dir, layout=layout, cluster_by=key),
            ORDER_1, P_PLACED_BY, P_IN_NATION, P_IN_REGION,
        )
        for layout in ("single", "sign_split")
        for key in ("s", "p")
    ]
    return _equiv_union(*results)


def sparql_2hop_store(spark, sf_dir):
    """SPARQL planned directly against the persisted sign-split store: the
    planner's sign routing (table_for_subject) compiles to Parquet partition
    pruning — the reference's hand-written Positive/Negative SQL
    (MyOpVisitorBase.java:82-86) as a pure layout property.

    Since round 4 the entry also pins the sequence-path spelling
    (SPARQL_2HOP_PATH) via the multiset-equivalence union: the entry
    returns exactly the explicit-chain result iff the path expansion
    produces identical rows over the same persisted layout."""
    store = _persisted_store(spark, sf_dir, layout="sign_split", cluster_by="s")
    d = _dict(spark, sf_dir)
    return _equiv_union(
        sparql_to_df(store, SPARQL_2HOP, d),
        sparql_to_df(store, SPARQL_2HOP_PATH, d),
    )


def rdf_encode_terms(spark, sf_dir):
    """Dictionary ENCODE path (term → id) as a distributed join — the
    inverse of J5's decode, replacing the reference's driver-side reverse
    HashMap (MyOpVisitorBase.java:56-66). Encodes the region terms back to
    ids and returns (term, id)."""
    d = _dict(spark, sf_dir)
    terms = load_table(spark, sf_dir, "region").select(
        F.concat(F.lit(":region_"), F.col("r_regionkey").cast("string")).alias(
            "term"
        )
    )
    return d.encode(terms, source_col="term", target_col="id").select("term", "id")


RDF_ENCODE_TERMS_SQL = f"""WITH dict AS ({DICTIONARY_SQL})
SELECT ':region_' || CAST(r_regionkey AS VARCHAR) AS term,
       d.id AS id
FROM region
LEFT JOIN dict d ON d.term = ':region_' || CAST(r_regionkey AS VARCHAR)
"""


def rdf_split_join(spark, sf_dir):
    store = _store(spark, sf_dir, layout="sign_split")
    return Q.split_join(store, P_BY_USER, P_LINKED_EVENT, P_HAS_TYPE)


RDF_SPLIT_JOIN_SQL = f"""{SPLIT_CTE}
SELECT n2.o AS obj
FROM (SELECT p1.o AS t1_obj
      FROM Negative n1
      JOIN Positive p1 ON n1.o = p1.s
      WHERE n1.p = {P_BY_USER} AND p1.p = {P_LINKED_EVENT}) Table1
LEFT OUTER JOIN Negative n2 ON n2.s = Table1.t1_obj
WHERE n2.p = {P_HAS_TYPE}
"""


EVENT_3 = -37  # :event_3 → -(3*10+7); a NEGATIVE subject, as in the reference


def rdf_split_join_bound(spark, sf_dir):
    """The reference's benchmark shape VERBATIM: the inner query also binds
    Negative.Subject (PartitionQueryingBRDSubject.java:152-157,
    ``WHERE Negative.Subject='-39' AND ...``) — round 1 omitted the bound
    subject; this entry restores full fidelity. Demoted from the 50-entry
    driver window in round 4 (slot → corpus_split); oracle coverage lives
    in tests/test_demoted.py."""
    store = _store(spark, sf_dir, layout="sign_split")
    return Q.split_join(
        store, P_BY_USER, P_LINKED_EVENT, P_HAS_TYPE, s_neg=EVENT_3
    )


RDF_SPLIT_JOIN_BOUND_SQL = f"""{SPLIT_CTE}
SELECT n2.o AS obj
FROM (SELECT p1.o AS t1_obj
      FROM Negative n1
      JOIN Positive p1 ON n1.o = p1.s
      WHERE n1.s = {EVENT_3} AND n1.p = {P_BY_USER} AND p1.p = {P_LINKED_EVENT}) Table1
LEFT OUTER JOIN Negative n2 ON n2.s = Table1.t1_obj
WHERE n2.p = {P_HAS_TYPE}
"""


def rdf_split_join_pstore(spark, sf_dir):
    """Split-join over the persisted split+p store (kept as a library path;
    registry coverage of this layout lives in rdf_layout_matrix — this
    function remains pytest-exercised via tests/test_store.py)."""
    store = _persisted_store(spark, sf_dir, layout="sign_split", cluster_by="p")
    return Q.split_join(store, P_BY_USER, P_LINKED_EVENT, P_HAS_TYPE)


def rdf_split_join_count(spark, sf_dir):
    """A1 COUNT cross-check of rdf_split_join. Demoted from the 50-entry
    driver window in round 4 (slot → sparql_regex): the counted query's full
    row set is already hash-checked by rdf_split_join; the COUNT twin stays
    oracle-pinned in tests/test_demoted.py."""
    store = _store(spark, sf_dir, layout="sign_split")
    return Q.split_join_count(store, P_BY_USER, P_LINKED_EVENT, P_HAS_TYPE)


RDF_SPLIT_JOIN_COUNT_SQL = f"SELECT count(*) AS n FROM ({RDF_SPLIT_JOIN_SQL})"


def rdf_sign_union(spark, sf_dir):
    """U1 — BOTH translator branches in one entry: the P-bound branch and
    the P+O-bound branch (MyOpVisitorBase.java:106-108,116-118), UNION ALL'd
    with the identically-shaped oracle. Duplicates preserved throughout
    (UNION ALL, never DISTINCT)."""
    store = _store(spark, sf_dir, layout="sign_split")
    return Q.sign_union(store, p=P_BY_USER).unionAll(
        Q.sign_union(store, p=P_BY_USER, o=CUSTOMER_7)
    )


RDF_SIGN_UNION_SQL = f"""{SPLIT_CTE}
SELECT s, p, o
FROM (SELECT * FROM Positive UNION ALL SELECT * FROM Negative)
WHERE p = {P_BY_USER}
UNION ALL
SELECT s, p, o
FROM (SELECT * FROM Positive UNION ALL SELECT * FROM Negative)
WHERE p = {P_BY_USER} AND o = {CUSTOMER_7}
"""


def rdf_decode_2hop(spark, sf_dir):
    store = _store(spark, sf_dir)
    d = _dict(spark, sf_dir)
    res = Q.path_2hop(store, ORDER_1, P_PLACED_BY, P_IN_NATION, P_IN_REGION)
    return d.decode(res.select("s0", "o0", "o1", "o2"))


RDF_DECODE_2HOP_SQL = f"""{TRIPLES_CTE}, dict AS ({DICTIONARY_SQL})
SELECT d0.term AS s0, d1.term AS o0, d2.term AS o1, d3.term AS o2
FROM (SELECT t0.s AS a, t0.o AS b, t1.o AS c, t2.o AS d
      FROM triples t0
      JOIN triples t1 ON t0.o = t1.s
      JOIN triples t2 ON t1.o = t2.s
      WHERE t0.s = {ORDER_1} AND t0.p = {P_PLACED_BY}
        AND t1.p = {P_IN_NATION} AND t2.p = {P_IN_REGION}) r
LEFT JOIN dict d0 ON d0.id = r.a
LEFT JOIN dict d1 ON d1.id = r.b
LEFT JOIN dict d2 ON d2.id = r.c
LEFT JOIN dict d3 ON d3.id = r.d
"""

def rdf_update_lifecycle(spark, sf_dir):
    """SPARQL 1.1 UPDATE end-to-end (r9, sparql/update.py): the engine
    the reference could never be — its drivers are read-only
    (PartitionQueryingSubject.java:55 loads a fixed file; no write path
    exists anywhere). Three copy-on-write statements over the derived
    graph: INSERT DATA introducing brand-new vocabulary (dictionary
    extends via the incremental append — no existing id moves), DELETE
    WHERE removing every label edge, and the DELETE/INSERT modify form
    renaming :inNation to :locatedIn against one pre-state solution set.
    The returned predicate histogram proves all three landed: the new
    predicate is present with exactly the inserted cardinality, the
    deleted one is absent, and the renamed edge carries the full
    customer count. Ground deltas are broadcast probes (the store is
    scanned, never shuffled); the modify delta is match-sized and
    checkpointed."""
    from rdfproject_msc_spark.engine import Engine

    eng = Engine(
        spark,
        store=_store(spark, sf_dir, layout="sign_split"),
        dictionary=_dict(spark, sf_dir),
    )
    eng.update(
        "INSERT DATA { :nation_0 :inContinent :continent_1 . "
        ":nation_1 :inContinent :continent_1 } ; "
        "DELETE WHERE { ?n :hasLabel ?l } ; "
        "DELETE { ?c :inNation ?n } INSERT { ?c :locatedIn ?n } "
        "WHERE { ?c :inNation ?n } ; "
        "CREATE SILENT GRAPH :arch ; "
        "INSERT DATA { GRAPH :arch { :nation_0 :archived :nation_0 . "
        ":nation_1 :archived :nation_0 } } ; "
        "COPY GRAPH :arch TO GRAPH :arch2 ; "
        "ADD GRAPH :arch2 TO DEFAULT ; "
        "DROP GRAPH :arch"
    )
    # r11 graph-management tail (§3.2.3–3.2.7): CREATE validates and
    # no-ops, the named-graph INSERT creates the quad relation, COPY
    # relabels into a brand-NEW graph label (dictionary extends), ADD
    # set-unions the copy into the DEFAULT graph (rows visible in the
    # histogram below), DROP retires the source graph — all quad
    # filters / relabels / unions over a payload-sized quad relation.
    assert eng.store.has_quads  # :arch2 remains as the named copy
    hist = eng.store.df.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    return eng.dictionary.decode(hist, ["p"]).select(
        F.col("p").alias("pred"), "n"
    )


RDF_UPDATE_LIFECYCLE_SQL = """
SELECT ':placedBy' AS pred, COUNT(*) AS n FROM orders
UNION ALL SELECT ':inRegion', COUNT(*) FROM nation
UNION ALL SELECT ':byUser', COUNT(*) FROM events
UNION ALL SELECT ':hasType', COUNT(*) FROM events
UNION ALL SELECT ':linkedEvent', COUNT(*) FROM customer
UNION ALL SELECT ':locatedIn', COUNT(*) FROM customer
UNION ALL SELECT ':inContinent', 2
UNION ALL SELECT ':archived', 2
"""


def rdf_rdfs_closure(spark, sf_dir):
    """RDFS forward-chaining materialization (r9, operators/rdfs.py)
    over the derived corpus + a synthetic ontology — an entailment
    regime the reference's translator could never express. Schema
    closures (subClassOf/subPropertyOf transitivity) run semi-naive
    over the ONTOLOGY-sized relation; instance rules (property
    inheritance, domain/range typing, class inheritance) are broadcast
    joins in one pass; the corpus pays one distinct. Returns the
    derived TYPE assertions histogram per class — every rule
    contributes rows (dom → Event, rng → User, sco chain → Act/Thing,
    hasType ⊑ rdf:type → the five etype classes), so a wrong or
    missing rule shifts a count. Deep verification (Python fixpoint
    equality on random cyclic ontologies, idempotence, recursive-CTE
    closure) lives in tests/test_rdfs.py."""
    from rdfproject_msc_spark.operators.rdfs import rdfs_closure

    TYPE, SCO, SPO, DOM, RNG = 901, 902, 903, 904, 905
    EVENT, USER, ACT, THING = 950, 951, 952, 953
    schema = [
        (P_BY_USER, DOM, EVENT),
        (P_BY_USER, RNG, USER),
        (EVENT, SCO, ACT),
        (ACT, SCO, THING),
        (P_HAS_TYPE, SPO, TYPE),
    ]
    triples = triples_df(spark, sf_dir).unionAll(
        spark.createDataFrame(schema, "s long, p long, o long")
    )
    vocab = {
        "type": TYPE, "subclassof": SCO, "subpropertyof": SPO,
        "domain": DOM, "range": RNG,
    }
    closed = rdfs_closure(triples, vocab)
    return (
        closed.filter(F.col("p") == TYPE)
        .groupBy(F.col("o").alias("class_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# the synthetic ontology is FIXED, so the oracle states each rule's
# contribution from the base tables: dom/sco type every event as
# Event/Act/Thing; rng types every distinct event user; hasType ⊑ type
# lands each event's etype class (base hasType edges are NOT rdf:type
# statements themselves — only the inherited edges type)
RDF_RDFS_CLOSURE_SQL = """
SELECT 950 AS class_id, COUNT(*) AS n FROM events
UNION ALL SELECT 952, COUNT(*) FROM events
UNION ALL SELECT 953, COUNT(*) FROM events
UNION ALL SELECT 951, COUNT(DISTINCT user_id) FROM events
UNION ALL
SELECT CAST((CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
             WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
             WHEN 'view' THEN 5 END) * 10 + 9 AS BIGINT) AS class_id,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def rdf_text_lifecycle(spark, sf_dir):
    """The reference's full lifecycle, end to end
    (PartitionQueryingSubject.java:82-153): triples TEXT in (S1) + dictionary
    TSV (S2) → subject-clustered layout (O1) → temp-view registration (S6) →
    the 2-hop SQL with typed literals (J1/P7/P9) → dictionary-join decode
    (J5) → CSV text out (S4) → read back. Every literal-I/O operator of the
    reference in one oracle-checked flow."""
    import os
    import tempfile

    from rdfproject_msc_spark.dictionary import Dictionary
    from rdfproject_msc_spark.sources import triples as TIO

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(tempfile.gettempdir(), "rdfproject_msc_text", tag)
    # materialize the derived graph in the reference's text formats
    triples_df(spark, sf_dir).write.mode("overwrite").csv(
        os.path.join(base, "triples"), sep=" "
    )
    dictionary_df(spark, sf_dir).write.mode("overwrite").csv(
        os.path.join(base, "dict"), sep="\t"
    )

    t = TIO.read_triples_text(spark, os.path.join(base, "triples"))
    d = Dictionary(TIO.read_dictionary_tsv(spark, os.path.join(base, "dict")))
    store = TripleStore(t, layout="single", cluster_by="s")
    store.register(spark, "table")
    res = spark.sql(
        f"""SELECT table.s AS s0, table.o AS o0, t1.o AS o1, t2.o AS o2
            FROM table INNER JOIN table t1 ON table.o = t1.s
                       INNER JOIN table t2 ON t1.o = t2.s
            WHERE table.s = {ORDER_1} AND table.p = {P_PLACED_BY}
              AND t1.p = {P_IN_NATION} AND t2.p = {P_IN_REGION}"""
    )
    decoded = d.decode(res)
    TIO.write_result_csv(decoded, os.path.join(base, "out"))
    return spark.read.csv(
        os.path.join(base, "out"),
        schema="s0 string, o0 string, o1 string, o2 string",
    )



def sparql_lexical_str(spark, sf_dir):
    """Spec value semantics over a LEXICAL (raw-ingested) store (r10,
    sparql/planner.py:_lex_str_value): string functions over variables
    evaluate the §17.4.2.5 STR VALUE — the literal's unquoted lexical
    form, derived on the DICTIONARY side of the term-attach join — and
    bare numeric FILTERs compare typed VALUES parsed from the term text
    (ids are lexicographic ranks, never values). Two UNION arms: a
    tagged-literal string-function arm (CONTAINS + LCASE over STR) and
    a decimal-typed value arm (?b >= 5000 over '^^xsd:decimal'
    lexicals with STR-projected values)."""
    import os
    import tempfile

    from rdfproject_msc_spark.engine import Engine

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(tempfile.gettempdir(), "rdfproject_msc_lexstr", tag)

    def _line(*parts):
        return F.concat(
            *[F.lit(p) if isinstance(p, str) else p for p in parts]
        ).alias("value")

    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    sc = lambda c: F.col(c).cast("string")  # noqa: E731
    acct = F.col("c_acctbal").cast("decimal(12,2)").cast("string")
    lines = nation.select(
        _line("<urn:nation_", sc("n_nationkey"),
              '> <urn:label> "', F.col("n_name"), '"@en .')
    ).unionAll(customer.select(
        _line("<urn:customer_", sc("c_custkey"),
              '> <urn:acct> "', acct,
              '"^^<http://www.w3.org/2001/XMLSchema#decimal> .')
    ))
    nt_dir = os.path.join(base, "nt")
    lines.write.mode("overwrite").text(nt_dir)

    # no cluster_by: range-clustering pays off on a PERSISTED layout
    # (row-group skipping — rdf_layout_matrix); for this in-memory
    # lifecycle it would add a range Exchange + sort that the very next
    # hash join re-partitions away (guide §2.4, measured r12)
    eng = Engine(spark).load_triples(nt_dir, fmt="nt", layout="sign_split")
    out = eng.sparql(
        """SELECT ?s ?v WHERE {
             { ?s <urn:label> ?x .
               FILTER(CONTAINS(STR(?x), "IA"))
               BIND(LCASE(STR(?x)) AS ?v) }
             UNION
             { ?s <urn:acct> ?b .
               FILTER(?b >= 5000)
               BIND(STR(?b) AS ?v) }
           }"""
    )
    # decode the id column; ?v is already a derived STRING value
    return eng.dictionary.decode(out)


SPARQL_LEXICAL_STR_SQL = """
SELECT s, v FROM (
  SELECT '<urn:nation_' || n_nationkey || '>' AS s, lower(n_name) AS v
  FROM nation WHERE contains(n_name, 'IA')
  UNION ALL
  SELECT '<urn:customer_' || c_custkey || '>' AS s,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS v
  FROM customer WHERE CAST(c_acctbal AS DECIMAL(12,2)) >= 5000
)
"""


def sparql_value_order(spark, sf_dir):
    """§15.1 value ordering + arithmetic value semantics on a LEXICAL
    store (r11, sparql/planner.py:_value_order_keys): plain
    `ORDER BY ?v` sorts by (term kind, typed numeric value, STR value)
    — numeric literals by VALUE (ids are lexicographic ranks, so id
    order would put "10" before "2"), non-numerics by codepoint STR —
    and the arithmetic comparison FILTER(?v * 2 >= 9000) evaluates
    typed values through the same _term_numeric routing. The LIMIT
    makes the ordering itself the selected SET, so the DuckDB twin
    verifies the order through the hash compare."""
    import os
    import tempfile

    from rdfproject_msc_spark.engine import Engine

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(tempfile.gettempdir(), "rdfproject_msc_vorder", tag)

    def _line(*parts):
        return F.concat(
            *[F.lit(p) if isinstance(p, str) else p for p in parts]
        ).alias("value")

    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    sc = lambda c: F.col(c).cast("string")  # noqa: E731
    acct = F.col("c_acctbal").cast("decimal(12,2)").cast("string")
    lines = nation.select(
        _line("<urn:nation_", sc("n_nationkey"),
              '> <urn:label> "', F.col("n_name"), '" .')
    ).unionAll(customer.select(
        _line("<urn:customer_", sc("c_custkey"),
              '> <urn:acct> "', acct,
              '"^^<http://www.w3.org/2001/XMLSchema#decimal> .')
    ))
    nt_dir = os.path.join(base, "nt")
    lines.write.mode("overwrite").text(nt_dir)

    # no cluster_by — in-memory lifecycle; see sparql_lexical_str
    eng = Engine(spark).load_triples(nt_dir, fmt="nt", layout="sign_split")
    return eng.sparql(
        """SELECT ?s ?v WHERE {
             { ?s <urn:acct> ?v . FILTER(?v * 2 >= 9000) }
             UNION
             { ?s <urn:label> ?v }
           } ORDER BY ?v ?s LIMIT 150""",
        decode=True,
    )


# the twin derives the SAME §15.1 keys: all values are literals (one
# kind), numerics (non-NULL numv) before non-numerics, by value then
# STR then subject — the LIMIT turns the order into the selected set
SPARQL_VALUE_ORDER_SQL = """
SELECT s, v FROM (
  SELECT '<urn:customer_' || c_custkey || '>' AS s,
         '"' || CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) ||
           '"^^<http://www.w3.org/2001/XMLSchema#decimal>' AS v,
         CAST(c_acctbal AS DECIMAL(12,2)) AS numv,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS sv
  FROM customer
  WHERE CAST(c_acctbal AS DECIMAL(12,2)) * 2 >= 9000
  UNION ALL
  SELECT '<urn:nation_' || n_nationkey || '>', '"' || n_name || '"',
         NULL, n_name
  FROM nation
) ORDER BY (numv IS NULL), numv, sv, s LIMIT 150
"""


def rdf_ingest_nt(spark, sf_dir):
    """Raw-RDF first mile (r9, sources/ntriples.py): the onboarding step
    NEITHER repo had — the reference's input arrives pre-encoded
    (PartitionQueryingSubject.java:55) and its dictionary is consumed,
    never produced (:63-70). Here: materialize genuine N-Triples text from
    the base tables, then parse → build the dictionary DISTRIBUTEDLY
    (dense signed ids = lexicographic rank per sign class; event terms
    take the Negative class) → encode → sign-split layout → query on ids
    (static Positive routing) → decode. Ids in the output prove the
    dense-rank assignment end-to-end against the row_number oracle."""
    import os
    import tempfile

    from rdfproject_msc_spark.engine import Engine

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(tempfile.gettempdir(), "rdfproject_msc_nt", tag)

    def _line(*parts):
        return F.concat(
            *[F.lit(p) if isinstance(p, str) else p for p in parts]
        ).alias("value")

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    events = load_table(spark, sf_dir, "events")
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    lines = (
        orders.select(
            _line("<urn:order_", s("o_orderkey"),
                  "> <urn:placedBy> <urn:customer_", s("o_custkey"), "> .")
        )
        .unionAll(customer.select(
            _line("<urn:customer_", s("c_custkey"),
                  "> <urn:inNation> <urn:nation_", s("c_nationkey"), "> .")
        ))
        .unionAll(nation.select(
            _line("<urn:nation_", s("n_nationkey"),
                  "> <urn:inRegion> <urn:region_", s("n_regionkey"), "> .")
        ))
        .unionAll(nation.select(
            _line("<urn:nation_", s("n_nationkey"),
                  '> <urn:label> "', F.col("n_name"), '"@en .')
        ))
        .unionAll(events.select(
            _line("<urn:event_", s("event_id"),
                  "> <urn:byUser> <urn:customer_", s("user_id"), "> .")
        ))
    )
    nt_dir = os.path.join(base, "nt")
    lines.write.mode("overwrite").text(nt_dir)

    eng = Engine(spark).load_triples(
        nt_dir,
        fmt="nt",
        layout="sign_split",
        # no cluster_by — in-memory lifecycle; see sparql_lexical_str
        negative_when=F.col("term").startswith("<urn:event_"),
    )
    ids = eng.dictionary.encode_terms(
        ["<urn:placedBy>", "<urn:inNation>", "<urn:nation_7>"]
    )
    # order→customer 2-hop into nation_7: both subjects are POSITIVE terms,
    # so the reference's sign routing reads Positive alone (the Negative
    # table holds the event triples)
    res = eng.sql(
        f"""SELECT t0.s AS order_id, t0.o AS cust_id
            FROM Positive t0 INNER JOIN Positive t1 ON t0.o = t1.s
            WHERE t0.p = {ids['<urn:placedBy>']}
              AND t1.p = {ids['<urn:inNation>']}
              AND t1.o = {ids['<urn:nation_7>']}"""
    )
    decorated = res.withColumn("order_term", F.col("order_id")).withColumn(
        "cust_term", F.col("cust_id")
    )
    return eng.dictionary.decode(decorated, ["order_term", "cust_term"])


RDF_INGEST_NT_SQL = """
WITH nt AS (
  SELECT '<urn:order_' || o_orderkey || '>' AS s_term,
         '<urn:placedBy>' AS p_term,
         '<urn:customer_' || o_custkey || '>' AS o_term FROM orders
  UNION ALL
  SELECT '<urn:customer_' || c_custkey || '>', '<urn:inNation>',
         '<urn:nation_' || c_nationkey || '>' FROM customer
  UNION ALL
  SELECT '<urn:nation_' || n_nationkey || '>', '<urn:inRegion>',
         '<urn:region_' || n_regionkey || '>' FROM nation
  UNION ALL
  SELECT '<urn:nation_' || n_nationkey || '>', '<urn:label>',
         '"' || n_name || '"@en' FROM nation
  UNION ALL
  SELECT '<urn:event_' || event_id || '>', '<urn:byUser>',
         '<urn:customer_' || user_id || '>' FROM events
),
terms AS (
  SELECT DISTINCT term FROM (
    SELECT s_term AS term FROM nt
    UNION ALL SELECT p_term FROM nt
    UNION ALL SELECT o_term FROM nt)
),
dict AS (
  SELECT CASE WHEN neg THEN -rnk ELSE rnk END AS id, term
  FROM (SELECT term, term LIKE '<urn:event_%' AS neg,
               row_number() OVER (PARTITION BY term LIKE '<urn:event_%'
                                  ORDER BY term) AS rnk
        FROM terms)
),
enc AS (
  SELECT ds.id AS s, dp.id AS p, dd.id AS o
  FROM nt JOIN dict ds ON ds.term = nt.s_term
          JOIN dict dp ON dp.term = nt.p_term
          JOIN dict dd ON dd.term = nt.o_term
)
SELECT t0.s AS order_id, t0.o AS cust_id,
       d0.term AS order_term, d1.term AS cust_term
FROM enc t0
JOIN enc t1 ON t0.o = t1.s
JOIN dict d0 ON d0.id = t0.s
JOIN dict d1 ON d1.id = t0.o
WHERE t0.p = (SELECT id FROM dict WHERE term = '<urn:placedBy>')
  AND t1.p = (SELECT id FROM dict WHERE term = '<urn:inNation>')
  AND t1.o = (SELECT id FROM dict WHERE term = '<urn:nation_7>')
"""


def rdf_ingest_rdfxml(spark, sf_dir):
    """RDF/XML first mile (r12, sources/rdfxml.py): materialize genuine
    MULTI-FILE RDF/XML from the base tables — row fragments build
    JVM-side (F.concat, XML-escaped), and each writer partition wraps
    its fragments into ONE well-formed document via an Arrow
    ``mapInPandas`` header/footer (the same first-batch technique as
    the Turtle ``@prefix`` prepend; per-FILE parse parallelism = the
    partition count) — then parse per file → build the dictionary
    distributedly → encode → sign-split layout → SPARQL with a
    language-tagged literal → decode. The DuckDB twin recomputes the
    join from the base tables with the same term spellings, so the
    hash compare proves the whole XML round trip."""
    import os
    import tempfile

    from rdfproject_msc_spark.engine import Engine

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(tempfile.gettempdir(), "rdfproject_msc_rdfxml", tag)

    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    s = lambda c: F.col(c).cast("string")  # noqa: E731

    def _xesc(col):
        out = F.replace(col, F.lit("&"), F.lit("&amp;"))
        out = F.replace(out, F.lit("<"), F.lit("&lt;"))
        return F.replace(out, F.lit(">"), F.lit("&gt;"))

    def _frag(*parts):
        return F.concat(
            *[F.lit(p) if isinstance(p, str) else p for p in parts]
        ).alias("value")

    frags = nation.select(
        _frag('<rdf:Description rdf:about="urn:nation_', s("n_nationkey"),
              '"><u:label xml:lang="en">', _xesc(F.col("n_name")),
              '</u:label><u:inRegion rdf:resource="urn:region_',
              s("n_regionkey"), '"/></rdf:Description>')
    ).unionAll(customer.select(
        _frag('<rdf:Description rdf:about="urn:customer_', s("c_custkey"),
              '"><u:inNation rdf:resource="urn:nation_', s("c_nationkey"),
              '"/></rdf:Description>')
    ))

    header = (
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:u="urn:v#">'
    )

    def _wrap(batches):
        # header ALWAYS first and footer ALWAYS last, so every part
        # file — empty partitions included — is a well-formed document
        import pandas as pd

        yield pd.DataFrame({"value": [header]})
        yield from batches
        yield pd.DataFrame({"value": ["</rdf:RDF>"]})

    xml_dir = os.path.join(base, "xml")
    frags.repartition(8).mapInPandas(
        _wrap, schema="value string"
    ).write.mode("overwrite").text(xml_dir)

    eng = Engine(spark).load_triples(
        xml_dir, fmt="rdfxml", layout="sign_split",
        # no cluster_by — in-memory lifecycle; see sparql_lexical_str
        on_error="fail",
    )
    return eng.sparql(
        """SELECT ?c ?r ?n WHERE {
             ?c <urn:v#inNation> ?nat .
             ?nat <urn:v#inRegion> ?r ;
                  <urn:v#label> ?n .
           }""",
        decode=True,
    )


RDF_INGEST_RDFXML_SQL = """
SELECT '<urn:customer_' || c_custkey || '>' AS c,
       '<urn:region_' || n_regionkey || '>' AS r,
       '"' || n_name || '"@en' AS n
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


SPARQL_2HOP = (
    "SELECT ?c ?n WHERE { :order_1 :placedBy ?c . ?c :inNation ?n . }"
)
# same query as a sequence property path (SPARQL 1.1 §9.1): the planner
# expands :placedBy/:inNation to the identical join chain through an
# internal variable — but the path intermediate (?c) is NOT a visible
# binding, so the path query projects and re-derives ?c via the explicit
# first hop to keep the same output shape
SPARQL_2HOP_PATH = (
    "SELECT ?c ?n WHERE { :order_1 :placedBy ?c . ?c :inNation ?n . "
    ":order_1 :placedBy/:inNation ?n . }"
)


def sparql_2hop(spark, sf_dir):
    store = _store(spark, sf_dir)
    return sparql_to_df(store, SPARQL_2HOP, _dict(spark, sf_dir))


SPARQL_2HOP_SQL = f"""{TRIPLES_CTE}
SELECT t0.o AS c, t1.o AS n
FROM triples t0 JOIN triples t1 ON t0.o = t1.s
WHERE t0.s = {ORDER_1} AND t0.p = {P_PLACED_BY} AND t1.p = {P_IN_NATION}
"""

SPARQL_STAR = (
    "SELECT ?e ?t WHERE { ?e :byUser :customer_7 . ?e :hasType ?t . }"
)

# Named graphs (SPARQL 1.1 §13.3) over the quad data model: the derived
# triples split into 4 named graphs by abs(subject) % 4 — a deterministic
# assignment both engines can compute. The GRAPH ?g block then constrains
# BOTH patterns to the SAME graph: event -byUser-> customer and customer
# -inNation-> nation must share abs(s) % 4, a genuine cross-pattern
# same-graph join (1/4 selectivity), while ?n :inRegion ?r reads the
# DEFAULT graph. Lowering: each in-block scan reads the quad relation with
# g as a fourth join slot; at scale a write_quads layout makes constant
# GRAPH blocks directory-pruned reads (tests/test_sparql_graph.py pins
# the PartitionFilters plan).
SPARQL_GRAPH = (
    "SELECT ?g ?e ?c ?n ?r WHERE "
    "{ GRAPH ?g { ?e :byUser ?c . ?c :inNation ?n } ?n :inRegion ?r . }"
)


def sparql_graph(spark, sf_dir):
    """GRAPH blocks execute over TripleStore's named-graph quads — surface
    the reference's Jena front-end parsed (MyOpVisitorBase.java:49) but its
    triple-only translator could never answer."""
    t = triples_df(spark, sf_dir)
    # cached for the same reason _store caches triples: the quad relation
    # is DERIVED and the block's two patterns scan it once each
    quads = t.select(
        (F.abs(F.col("s")) % F.lit(4)).alias("g"), "s", "p", "o"
    ).cache()
    store = _store(spark, sf_dir, quads=quads)
    return sparql_to_df(store, SPARQL_GRAPH, _dict(spark, sf_dir))


SPARQL_GRAPH_SQL = f"""{TRIPLES_CTE},
quads AS (SELECT abs(s) % 4 AS g, s, p, o FROM triples)
SELECT q0.g AS g, q0.s AS e, q0.o AS c, q1.o AS n, t.o AS r
FROM quads q0
JOIN quads q1 ON q0.g = q1.g AND q0.o = q1.s
JOIN triples t ON q1.o = t.s
WHERE q0.p = {P_BY_USER} AND q1.p = {P_IN_NATION} AND t.p = {P_IN_REGION}
"""


# FROM restricts the active default graph to graph 1 and FROM NAMED
# restricts GRAPH ?g to graph 3 — the two §13.2 clauses composed in one
# query, joined on ?c across the dataset boundary. Both clauses are
# LOAD-BEARING under the g = |s| % 4 graphing: `:byUser` subjects are
# -(10e+7) so graph 1 holds exactly the odd-event half of the stream,
# and `:inNation` subjects are 10c+1 so graph 3 holds exactly the
# odd-customer half — each clause strictly shrinks its pattern's input
# and the join output (the round-6 shape used FROM NAMED {0,2}, which
# no `:inNation` subject can reach — both engines returned 0 rows and
# the hash-match was vacuous; tests/test_sparql_graph.py now pins this
# entry non-empty).
SPARQL_FROM = (
    "SELECT ?g ?e ?c ?n FROM 1 FROM NAMED 3 WHERE "
    "{ ?e :byUser ?c . GRAPH ?g { ?c :inNation ?n } }"
)


def sparql_from(spark, sf_dir):
    """FROM / FROM NAMED dataset clauses (SPARQL 1.1 §13.2) over the quad
    model: the active default graph becomes the set-union of the FROM
    graphs and GRAPH blocks range over only the FROM NAMED graphs —
    both lower to `g IN (...)` filters on the quad relation
    (planner._dataset_scoped_store), pushdown-able and, on a write_quads
    layout, directory-PRUNED. Jena parsed these clauses for the
    reference (MyOpVisitorBase.java:49); its single-table translator had
    no dataset model. Graph names here are the engine's integer ids
    (same id data model as every other constant)."""
    t = triples_df(spark, sf_dir)
    quads = t.select(
        (F.abs(F.col("s")) % F.lit(4)).alias("g"), "s", "p", "o"
    ).cache()
    store = _store(spark, sf_dir, quads=quads)
    return sparql_to_df(store, SPARQL_FROM, _dict(spark, sf_dir))


SPARQL_FROM_SQL = f"""{TRIPLES_CTE},
quads AS (SELECT abs(s) % 4 AS g, s, p, o FROM triples),
dflt AS (SELECT DISTINCT s, p, o FROM quads WHERE g IN (1))
SELECT q.g AS g, a.s AS e, a.o AS c, q.o AS n
FROM dflt a
JOIN quads q ON a.o = q.s AND q.g IN (3)
WHERE a.p = {P_BY_USER} AND q.p = {P_IN_NATION}
"""


# typed-VALUE comparisons + casts (r7): date-window FILTER over typed
# literals, an xsd:string cast BIND, and a cast-VALUE sort key with a
# load-bearing LIMIT (ties broken by ?n, so the top-12 is deterministic
# on both engines)
SPARQL_VALUE_CMP = (
    "SELECT ?n ?r ?d ?v WHERE { ?n :inRegion ?r . ?r :hasLabel ?d . "
    'FILTER(?d >= "2020-02-15"^^xsd:date && ?d < "2020-05-15"^^xsd:date) '
    "BIND(xsd:string(?d) AS ?v) } ORDER BY DESC(xsd:date(?d)) ?n LIMIT 12"
)


def sparql_value_cmp(spark, sf_dir):
    """Typed-literal VALUE comparisons, casts and value ordering (SPARQL
    1.1 §17.3 operand mapping + §17.5 constructor casts, r7): the date
    window FILTER parses '"lex"^^:date' lexicals out of the dictionary
    term text (planner._term_temporal) — evaluated over |dict| distinct
    terms, never per solution row, with the implied null-intolerant
    suffix predicate letting Catalyst inner-ize the dictionary join and
    push the match into the dict scan; non-date labels (plain literals,
    tagged literals) are type ERRORS → NULL → dropped by 3VL.
    ORDER BY DESC(xsd:date(?d)) sorts by the cast VALUE (not the
    arbitrary encoded id), and BIND(xsd:string(?d)) projects the decoded
    term. The reference's Jena front-end parsed all three forms
    (MyOpVisitorBase.java:49); its translator compared raw ids only."""
    store = _store(spark, sf_dir)
    return sparql_to_df(store, SPARQL_VALUE_CMP, _dict(spark, sf_dir))


# the oracle mirrors the value derivation over the dict CTE: a CASE
# parses the date VALUE from terms matching the typed-date grammar,
# everything else derives NULL (type error) and fails the window
SPARQL_VALUE_CMP_SQL = f"""{TRIPLES_CTE}, dict AS ({DICTIONARY_SQL}),
lab AS (
    SELECT a.s AS n, a.o AS r, b.o AS d, d2.term AS dterm
    FROM triples a
    JOIN triples b ON a.o = b.s
    LEFT JOIN dict d2 ON b.o = d2.id
    WHERE a.p = {P_IN_REGION} AND b.p = {P_HAS_LABEL}
),
vals AS (
    SELECT n, r, d, dterm,
           CASE WHEN dterm IS NOT NULL AND regexp_matches(
                    dterm, '^"\\d{{4}}-\\d{{2}}-\\d{{2}}"\\^\\^:date$')
                THEN CAST(substring(dterm, 2, 10) AS DATE) END AS dv
    FROM lab
)
SELECT n, r, d, dterm AS v FROM vals
WHERE dv >= DATE '2020-02-15' AND dv < DATE '2020-05-15'
ORDER BY dv DESC, n
LIMIT 12
"""


SPARQL_FILTER = (
    "SELECT ?e ?c WHERE { ?e (:byUser|:linkedEvent) ?c . "
    "FILTER((?e >= -2507 && !(?c = 71)) || ?c < 60) }"
)


def sparql_filter(spark, sf_dir):
    """FILTER expressions through the planner: numeric comparisons over the
    encoded ids (the engine's data model — the reference's own SQL compares
    ids, PartitionQueryingSubject.java:130) combined with the SPARQL 1.1
    §17.2 connectives && / || / ! and parentheses, over an alternation
    property path (§9.1: `:byUser|:linkedEvent` lowers to a UNION block —
    with the p-clustered store layout each arm's scan prunes to its own
    predicate range, so the union reads the same bytes as a single
    p IN (...) scan). Catalyst still splits the pushdown-able conjuncts
    into the scans of each arm."""
    store = _store(spark, sf_dir)
    return sparql_to_df(store, SPARQL_FILTER, _dict(spark, sf_dir))


# PREFIX + OPTIONAL in one query: `ex:` expands per the declared mapping and
# localizes to the dictionary's `:name` form; the OPTIONAL group left-joins
# each customer's events (customers without events survive null-extended).
SPARQL_OPTIONAL = """
PREFIX ex: <http://example.org/vocab/>
SELECT ?c ?n ?e WHERE
{ ?c ex:inNation ?n . OPTIONAL { ?e ex:byUser ?c . FILTER(?e >= -2507) } }
"""


def sparql_optional(spark, sf_dir):
    """OPTIONAL → left join (SPARQL 1.1 §5.3) plus PREFIX resolution — the
    two front-end features the reference's Jena path provided for free
    (MyOpVisitorBase.java:49) that round 2 lacked — plus a group-scoped
    FILTER folded into the LeftJoin condition (§18.2.2.2): an event failing
    the filter leaves its customer null-extended, not dropped. The oracle
    is the equivalent LEFT JOIN with the filter in the ON clause."""
    store = _store(spark, sf_dir, layout="sign_split")
    return sparql_to_df(store, SPARQL_OPTIONAL, _dict(spark, sf_dir))


SPARQL_OPTIONAL_SQL = f"""{TRIPLES_CTE}
SELECT t0.s AS c, t0.o AS n, t1.s AS e
FROM triples t0
LEFT JOIN triples t1
  ON t1.p = {P_BY_USER} AND t1.o = t0.s AND t1.s >= -2507
WHERE t0.p = {P_IN_NATION}
"""


SPARQL_FILTER_SQL = f"""{TRIPLES_CTE}
SELECT s AS e, o AS c FROM triples
WHERE p IN ({P_BY_USER}, {P_LINKED_EVENT})
  AND ((s >= -2507 AND NOT o = {CUSTOMER_7}) OR o < 60)
"""

SPARQL_REGEX = (
    "SELECT ?e ?t WHERE { ?e :hasType ?t . ?e :byUser ?c . "
    'FILTER(REGEX(STR(?c), "customer_1[0-9]$") && !STRENDS(STR(?t), "view")) }'
)


def sparql_regex(spark, sf_dir):
    """String-valued FILTER functions (SPARQL 1.1 §17.4.3) over the
    dictionary-ENCODED store: REGEX/CONTAINS/STRSTARTS/STRENDS reference
    terms, but the relation holds ids — the planner attaches each
    string-filtered variable's term via one dictionary join and compiles
    the match as a column predicate. Catalyst rewrites the left join +
    null-intolerant predicate into an inner join and pushes the regex into
    the DICTIONARY scan, so the match runs over |dict| distinct terms
    instead of per solution row — the textbook evaluation strategy for
    string predicates on dictionary-encoded data, and the scale story at
    100 TB (the dictionary is orders of magnitude smaller than the triple
    relation). Composable with the boolean connectives under 3VL (the
    !STRENDS conjunct here). The reference's Jena front-end parsed these
    forms (MyOpVisitorBase.java:49); its translator could not compile
    them."""
    store = _store(spark, sf_dir)
    return sparql_to_df(store, SPARQL_REGEX, _dict(spark, sf_dir))


SPARQL_REGEX_SQL = f"""{TRIPLES_CTE}, dict AS ({DICTIONARY_SQL})
SELECT a.s AS e, a.o AS t
FROM triples a
JOIN triples b ON a.s = b.s
JOIN dict dc ON b.o = dc.id
JOIN dict dt ON a.o = dt.id
WHERE a.p = {P_HAS_TYPE} AND b.p = {P_BY_USER}
  AND regexp_matches(dc.term, 'customer_1[0-9]$')
  AND NOT suffix(dt.term, 'view')
"""

SPARQL_LANG = (
    "SELECT ?x ?l ?dt WHERE { ?x :hasLabel ?l . "
    'FILTER(LANG(?l) != "fr") BIND(DATATYPE(?l) AS ?dt) }'
)


def sparql_lang(spark, sf_dir):
    """RDF term-kind model (SPARQL 1.1 §17.4.2): LANG() filtering and a
    projected DATATYPE() over dictionary-encoded literals. The dictionary
    term TEXT carries the kind ('"lex"@tag' tagged / '"lex"^^:dt' typed /
    bare plain literal / ':name' IRI — planner._term_lang grammar), so
    both accessors compile to column expressions over ONE dictionary
    left join per variable: LANG evaluates against |dict| distinct terms
    (never per solution row) and errors (NULL → drop) on IRIs, exactly
    §17.4.2.6; DATATYPE binds ':langString' / ':date' / ':string' /
    ':integer' as a string solution column. The reference's Jena
    front-end parsed these accessors (MyOpVisitorBase.java:49); its
    translator had no literal model at all."""
    store = _store(spark, sf_dir)
    return sparql_to_df(store, SPARQL_LANG, _dict(spark, sf_dir))


# the oracle mirrors the term-kind derivation over the dict CTE: the lang
# CASE yields NULL for IRIs/blanks (NULL != 'fr' is NULL → dropped, the
# same 3VL the Spark side uses), '' for plain/typed/integer literals
_LANG_CASE = """CASE
    WHEN d.term IS NULL THEN ''
    WHEN starts_with(d.term, '_:') OR starts_with(d.term, ':') THEN NULL
    WHEN starts_with(d.term, '"')
         AND regexp_matches(d.term, '"@[A-Za-z][A-Za-z0-9-]*$')
      THEN lower(regexp_extract(d.term, '"@([A-Za-z][A-Za-z0-9-]*)$', 1))
    ELSE ''
  END"""

_DATATYPE_CASE = """CASE
    WHEN d.term IS NULL THEN ':integer'
    WHEN starts_with(d.term, '_:') OR starts_with(d.term, ':') THEN NULL
    WHEN starts_with(d.term, '"')
         AND regexp_matches(d.term, '"@[A-Za-z][A-Za-z0-9-]*$')
      THEN ':langString'
    WHEN starts_with(d.term, '"')
         AND regexp_matches(d.term, '"\\^\\^:\\w+$')
      THEN regexp_extract(d.term, '"\\^\\^(:\\w+)$', 1)
    ELSE ':string'
  END"""

SPARQL_LANG_SQL = f"""{TRIPLES_CTE}, dict AS ({DICTIONARY_SQL})
SELECT t.s AS x, t.o AS l, {_DATATYPE_CASE} AS dt
FROM triples t LEFT JOIN dict d ON t.o = d.id
WHERE t.p = {P_HAS_LABEL} AND ({_LANG_CASE}) <> 'fr'
"""


SPARQL_TOPK = (
    "SELECT DISTINCT ?c WHERE { ?e :byUser ?c . } ORDER BY DESC(?c) LIMIT 5"
)
SPARQL_TOPK_SQL = f"""{TRIPLES_CTE}
SELECT DISTINCT o AS c FROM triples WHERE p = {P_BY_USER}
ORDER BY c DESC LIMIT 5
"""
# sparql_topk (DISTINCT/ORDER BY/LIMIT) was demoted to tests/test_demoted.py
# after two green rounds to free its 50-cap slot for sparql_groupby; the
# modifier lowering it pinned is unchanged and stays oracle-checked there.

SPARQL_GROUPBY = (
    "SELECT ?c (COUNT(?e) AS ?n_events) WHERE { ?c ^:byUser ?e . } "
    "GROUP BY ?c HAVING(?n_events < 56) ORDER BY DESC(?n_events) ?c LIMIT 10"
)


def sparql_groupby(spark, sf_dir):
    """SPARQL 1.1 §11 aggregation through the planner: GROUP BY + COUNT
    lowered to groupBy/agg (partial aggregation before the key shuffle —
    the exchange carries one row per key per partition, not per event),
    HAVING (§11.5) filtering the grouped output, and an inverse property
    path (§9.1: `?c ^:byUser ?e` ≡ `?e :byUser ?c` with the sides
    swapped at parse time — zero plan cost). The HAVING is load-bearing:
    without it the DESC top-10 would be the LARGEST groups; with it the
    result is the top of the sub-56 tail. ORDER BY the aggregate alias
    with a key tiebreak keeps the LIMIT deterministic."""
    store = _store(spark, sf_dir)
    return sparql_to_df(store, SPARQL_GROUPBY, _dict(spark, sf_dir))


SPARQL_GROUPBY_SQL = f"""{TRIPLES_CTE}
SELECT o AS c, count(s) AS n_events FROM triples WHERE p = {P_BY_USER}
GROUP BY o HAVING count(s) < 56 ORDER BY n_events DESC, c LIMIT 10
"""

# nested group graph patterns (SPARQL 1.1 §5.2 / §18.2.2.2, recursive):
# a plain `{}` subgroup joined onto the BGP, and a UNION whose second arm
# carries an OPTIONAL — the structural surface the reference's Jena parse
# accepted (MyOpVisitorBase.java:49) that needed the round-5 recursive
# parser/planner. ?e is bound only by arm 2 (null-extended in arm-1 rows);
# ?t is bound only when the customer's linked event exists in the events
# table (c_custkey % 500 may exceed the event-id range), so BOTH
# nullability paths — arm-missing and OPTIONAL-missing — appear in the
# output.
SPARQL_NESTED = """
SELECT ?c ?n ?e ?t WHERE {
  { ?c :inNation ?n } .
  { ?o :placedBy ?c } UNION { ?c :linkedEvent ?e . OPTIONAL { ?e :hasType ?t } }
}
"""


def sparql_nested(spark, sf_dir):
    """Recursive group algebra through the planner: the subgroup plans
    standalone and inner-joins on ?c; each UNION arm plans standalone
    (arm 2 left-joins :hasType INSIDE the arm before the union) and joins
    the prior bindings per-arm on the variables that arm binds — every
    join stays a hash equi-join, null-extension happens only in the
    unionByName. Oracle: the literal two-branch UNION ALL SQL."""
    store = _store(spark, sf_dir, layout="sign_split")
    return sparql_to_df(store, SPARQL_NESTED, _dict(spark, sf_dir))


SPARQL_NESTED_SQL = f"""{TRIPLES_CTE}
SELECT cn.s AS c, cn.o AS n, CAST(NULL AS BIGINT) AS e, CAST(NULL AS BIGINT) AS t
FROM triples cn JOIN triples op ON op.p = {P_PLACED_BY} AND op.o = cn.s
WHERE cn.p = {P_IN_NATION}
UNION ALL
SELECT cn.s AS c, cn.o AS n, le.o AS e, ht.o AS t
FROM triples cn
JOIN triples le ON le.p = {P_LINKED_EVENT} AND le.s = cn.s
LEFT JOIN triples ht ON ht.p = {P_HAS_TYPE} AND ht.s = le.o
WHERE cn.p = {P_IN_NATION}
"""

# compatible-bindings clause joins (§18.2.1/§18.5): a MINUS keyed on a
# variable the preceding OPTIONAL leaves possibly-unbound. Customers
# without a linked event survive the MINUS outright (their solution's
# domain is disjoint from the group's — §18.5 removes nothing), while
# customers whose event is a click are removed; the contrast is exactly
# the semantics Spark's NULL-equality would silently invert.
SPARQL_COMPAT = """
SELECT ?c ?n ?e WHERE {
  ?c :inNation ?n .
  OPTIONAL { ?c :linkedEvent ?e }
  MINUS { ?e :hasType :etype_click }
}
"""


def sparql_compat(spark, sf_dir):
    """Bound-mask branch decomposition for clause joins over nullable
    keys (sparql/planner.py `_left_mask_branches`): the accumulated
    solutions split into the ?e-bound branch (a hash LEFT ANTI join
    against the click events) and the ?e-unbound branch (kept outright —
    SPARQL §18.5 domain-disjointness), then union. Every branch stays a
    hash join; no OR-of-null-equality condition (which would degenerate
    to a nested-loop join at scale), no fan-out. The reference's Jena
    front-end parsed this query (MyOpVisitorBase.java:49); its
    translator could not compile it."""
    store = _store(spark, sf_dir, layout="sign_split")
    return sparql_to_df(store, SPARQL_COMPAT, _dict(spark, sf_dir))


# :etype_click encodes as alphabetic-rank(click)=1 → 1*10+9 (derived.py)
SPARQL_COMPAT_SQL = f"""{TRIPLES_CTE}
SELECT cn.s AS c, cn.o AS n, le.o AS e
FROM triples cn
LEFT JOIN triples le ON le.p = {P_LINKED_EVENT} AND le.s = cn.s
WHERE cn.p = {P_IN_NATION}
  AND (le.o IS NULL OR NOT EXISTS (
    SELECT 1 FROM triples ht
    WHERE ht.p = {P_HAS_TYPE} AND ht.s = le.o AND ht.o = 19))
"""

# SPARQL subquery (§12): per-customer order count aggregated in a nested
# SELECT, joined back to the customer's nation pattern on the PROJECTED
# variable — §18.2.4.4 scoping (only the subquery's projection is visible).
SPARQL_SUBQUERY = """
SELECT ?c ?n ?cnt WHERE {
  ?c :inNation ?n .
  { SELECT ?c (COUNT(?o) AS ?cnt) WHERE { ?o :placedBy ?c } GROUP BY ?c }
}
"""


def sparql_subquery(spark, sf_dir):
    """Subquery planning: the nested SELECT plans standalone through the
    full pipeline (pattern scan → partial-aggregate groupBy → alias) and
    joins the outer pattern on ?c — one aggregation shuffle plus one join
    shuffle, the same plan the hand-written analytics layer produces for
    this shape. Customers with no orders drop (inner join — SPARQL group
    join semantics, matching the oracle's plain JOIN)."""
    store = _store(spark, sf_dir, layout="sign_split")
    return sparql_to_df(store, SPARQL_SUBQUERY, _dict(spark, sf_dir))


SPARQL_SUBQUERY_SQL = f"""{TRIPLES_CTE}
SELECT cn.s AS c, cn.o AS n, q.cnt
FROM triples cn
JOIN (
  SELECT o AS c, count(s) AS cnt FROM triples WHERE p = {P_PLACED_BY}
  GROUP BY o
) q ON q.c = cn.s
WHERE cn.p = {P_IN_NATION}
"""


def sparql_star(spark, sf_dir):
    """Star-shaped BGP (two patterns sharing the SUBJECT variable). Demoted
    from the 50-entry driver window in round 4 (slot → text_decontaminate):
    the shared-variable join machinery is identically exercised by the
    chain-shaped sparql_2hop (which keeps its driver row); the star shape
    stays oracle-pinned in tests/test_demoted.py."""
    store = _store(spark, sf_dir, layout="sign_split")
    return sparql_to_df(store, SPARQL_STAR, _dict(spark, sf_dir))


SPARQL_STAR_SQL = f"""{TRIPLES_CTE}
SELECT a.s AS e, b.o AS t
FROM triples a JOIN triples b ON a.s = b.s
WHERE a.p = {P_BY_USER} AND a.o = {CUSTOMER_7} AND b.p = {P_HAS_TYPE}
"""


# ---------------------------------------------------------------------------
# analytics queries (the agg/join/window surface Catalyst gives us — exposed
# and oracle-pinned; SURVEY.md §2.4 note)


def tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    charge = disc * (F.lit(1).cast(_DEC) + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(_dec("l_quantity"), "sum_qty"),
            _money(_dec("l_extendedprice"), "sum_base_price"),
            _money(disc, "sum_disc_price"),
            _money(charge, "sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(F.sum(_dec("l_discount")).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    disc = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    return (
        # no broadcast hint on customer: it GROWS with sf (a hint is honored
        # regardless of runtime size — driver OOM bait at 100×). AQE picks
        # broadcast from actual stats while the filtered side is small.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_money(disc, "revenue"))
    )


TPCH_Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
"""


def tpch_q5(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc = _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        # supplier grows with sf → no hint (AQE broadcasts while it's small);
        # nation/region are FIXED-size dimensions → hint is safe at any sf
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_money(disc, "revenue"))
    )


TPCH_Q5_SQL = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY n_name
"""


def orders_rollup(spark, sf_dir):
    """ROLLUP over (priority, order-year): the grouping-sets surface the
    reference lacked entirely (SURVEY.md §2.4 'no GROUP BY' — Catalyst
    provides it; we expose and oracle-pin it). Null grouping placeholders
    match ANSI ROLLUP semantics in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .rollup("o_orderpriority", "o_year")
        .agg(
            F.count("*").alias("n_orders"),
            _money(_dec("o_totalprice"), "total_price"),
        )
    )


ORDERS_ROLLUP_SQL = """
SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, CAST(year(o_orderdate) AS BIGINT))
"""


def skew_salted_join(spark, sf_dir):
    """lineitem ⋈ orders via the salted-join operator, aggregated per
    priority. The salt is invisible in the result, so the oracle is the
    PLAIN join+agg — correctness of the skew mitigation is exactly 'same
    answer as the unsalted join'."""
    from rdfproject_msc_spark.operators import skew

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = skew.salted_join(li, orders, on="okey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        _money(_dec("l_quantity"), "total_qty"),
    )


SKEW_SALTED_JOIN_SQL = """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def events_props_json(spark, sf_dir):
    """Semi-structured column parsing: extract a field from the JSON props
    string JVM-side (get_json_object — no Python in the loop) and aggregate.
    Training pipelines parse metadata JSON constantly; this pins the
    cross-engine extraction semantics."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_PROPS_JSON_SQL = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def events_distinct_users(spark, sf_dir):
    """DISTINCT aggregation per group (absent from the reference — SURVEY
    §2.4). Exact count_distinct is the oracle baseline; at 100 TB the
    approx_count_distinct (HyperLogLog++) sketch replaces it — its bounded
    error vs this exact entry is pinned in tests/test_registry_extras.py."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


EVENTS_DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events
GROUP BY event_type
"""


def orders_cube(spark, sf_dir):
    """CUBE over (priority, year): all 4 grouping sets (ANSI null
    placeholders). Demoted from the 50-entry driver window in round 4
    (slot → doc_pack; the ROLLUP sibling keeps its driver row); oracle
    coverage lives in tests/test_demoted.py."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .cube("o_orderpriority", "o_year")
        .agg(F.count("*").alias("n_orders"))
    )


ORDERS_CUBE_SQL = """
SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, CAST(year(o_orderdate) AS BIGINT))
"""


def customer_running_revenue(spark, sf_dir):
    """Cumulative window aggregation: per-customer running order total in
    order-date order (lag/lead/cumsum surface; deterministic tie-break on
    orderkey)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(_dec("o_totalprice")).over(w), 2)
        .cast("double")
        .alias("running_total"),
    )


CUSTOMER_RUNNING_REVENUE_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
            AS DOUBLE) AS running_total
FROM orders
"""


def events_pivot(spark, sf_dir):
    """Pivot: per-user event counts, one column per event type. Spark's
    pivot() with an explicit value list (never the implicit-distinct scan at
    scale); oracle = conditional aggregation, the engine-portable form."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


_SEMDEDUP = dict(k=8, dim=64, threshold=0.35)


def _semdedup_centroids() -> list[list[float]]:
    """Fixed deterministic centroids for the driver row: a pure function
    of (k, dim), so the DuckDB oracle replicates the assignment exactly.
    Production use trains `similarity.kmeans_centroids` instead — the
    operator takes either."""
    import math

    return [
        [math.sin(0.5 * i + 0.13 * j) for j in range(_SEMDEDUP["dim"])]
        for i in range(_SEMDEDUP["k"])
    ]


def semantic_dedup_embeddings(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, operators/semdedup.py): cluster the
    embedding space, drop every vector cosine-dominated (>= 0.35) by a
    smaller-id vector in its cluster, return the survivors with their
    cluster. The corpus-PRUNING complement of cosine_neardup's pair
    enumeration. Within-cluster work is the cluster-keyed co-partitioned
    self-join (never corpus all-pairs); the keep rule is the same
    corpus-first min-id as exact/passage dedup, so the result is
    deterministic and exactly oracle-replicable."""
    from rdfproject_msc_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb,
        dim=_SEMDEDUP["dim"],
        threshold=_SEMDEDUP["threshold"],
        centroids=_semdedup_centroids(),
    )
    return out.select("vec_id", "cluster")


def _semantic_dedup_sql() -> str:
    cents = _semdedup_centroids()
    scores = ", ".join(
        "list_cosine_similarity(v, [" + ", ".join(map(str, c)) + "])"
        for c in cents
    )
    t = _SEMDEDUP["threshold"]
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
a AS (
    SELECT vec_id, v,
           CAST(list_position([{scores}], list_max([{scores}])) - 1
                AS INTEGER) AS cluster
    FROM e
),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM a x JOIN a b
      ON x.cluster = b.cluster AND x.vec_id < b.vec_id
     AND list_cosine_similarity(x.v, b.v) >= {t}
)
SELECT vec_id, cluster FROM a
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()

EVENTS_PIVOT_SQL = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY user_id
"""


def bucketed_join(spark, sf_dir):
    """Bucketed co-located join — the zero-shuffle join technique for
    repeated big⋈big joins at scale: both tables are written ONCE bucketed
    (+ sorted) on the join key; every subsequent join on that key reads
    matching buckets directly, no Exchange on either side (pinned by
    tests/test_skew_and_plans.py). At 100 TB this converts the recurring
    fact⋈fact shuffle into a one-time layout cost, exactly like the
    TripleStore's persisted clustering does for scans."""
    import os
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), "rdfproject_msc_bucketed", tag)
    specs = {
        f"b_orders_{tag}": (
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            "o_orderkey",
        ),
        f"b_lineitem_{tag}": (
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity"
            ),
            "l_orderkey",
        ),
    }
    for name, (df, key) in specs.items():
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    o = spark.table(f"b_orders_{tag}")
    li = spark.table(f"b_lineitem_{tag}")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            _money(_dec("l_quantity"), "total_qty"),
        )
    )


BUCKETED_JOIN_SQL = SKEW_SALTED_JOIN_SQL  # same logical query, different layout


def top_orders_per_priority(spark, sf_dir):
    """Per-key top-N through the SALTED two-stage operator
    (operators/topn.py, r6): the naive Window.partitionBy(priority)
    form funnels 1/5 of the table through ONE task per priority at
    100 TB (5 keys, and AQE does not split window skew); the salted
    form spreads each key across 16 bounded windows, then ranks the
    ≤ n×16 survivors — identical exact output (same DuckDB
    row_number oracle), per-task work bounded by data/salts."""
    from rdfproject_msc_spark.operators.topn import top_n_per_key

    orders = load_table(spark, sf_dir, "orders")
    return top_n_per_key(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
        tiebreak_col="o_orderkey",
    ).select("o_orderpriority", "o_orderkey", "o_totalprice")


TOP_ORDERS_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
"""


def events_hourly(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            _money(_dec("value"), "total_value"),
        )
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def orders_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, verified identical). At scale the approximate
    sketch (approx_percentile / t-digest) replaces this; the exact form is
    the correctness baseline."""
    orders = load_table(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
    return orders.groupBy("o_orderpriority").agg(
        F.round(pct[0], 4).alias("p50"),
        F.round(pct[1], 4).alias("p90"),
        F.round(pct[2], 4).alias("p99"),
    )


ORDERS_PERCENTILES_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders
GROUP BY o_orderpriority
"""


def customers_setops(spark, sf_dir):
    """INTERSECT / EXCEPT surface (absent from the reference — SURVEY §2.5;
    Catalyst-native): customers that placed an order but never produced an
    event, via except on key sets."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    with_orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    with_events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k")
    )
    return cust.intersect(with_orders).exceptAll(with_events.distinct())


CUSTOMERS_SETOPS_SQL = """
SELECT c_custkey AS k FROM customer
INTERSECT
SELECT o_custkey FROM orders
EXCEPT
SELECT DISTINCT user_id FROM events
"""


def parts_semi_anti(spark, sf_dir):
    """LEFT SEMI + LEFT ANTI joins (absent from the reference — SURVEY
    §2.3): per-brand counts of parts that DO appear in lineitem and parts
    that never ship."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    shipped = part.join(li, part.p_partkey == li.l_partkey, "left_semi")
    never = part.join(li, part.p_partkey == li.l_partkey, "left_anti")
    return (
        shipped.groupBy("p_brand").agg(F.count("*").alias("n_shipped"))
        .join(
            never.groupBy("p_brand").agg(F.count("*").alias("n_never")),
            "p_brand",
            "full_outer",
        )
        .select(
            "p_brand",
            F.coalesce("n_shipped", F.lit(0)).alias("n_shipped"),
            F.coalesce("n_never", F.lit(0)).alias("n_never"),
        )
    )


PARTS_SEMI_ANTI_SQL = """
WITH shipped AS (
    SELECT p_brand, count(*) AS n_shipped FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    GROUP BY p_brand
),
never AS (
    SELECT p_brand, count(*) AS n_never FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    GROUP BY p_brand
)
SELECT coalesce(s.p_brand, n.p_brand) AS p_brand,
       coalesce(n_shipped, 0) AS n_shipped,
       coalesce(n_never, 0) AS n_never
FROM shipped s FULL OUTER JOIN never n ON s.p_brand = n.p_brand
"""


def events_prev_asof(spark, sf_dir):
    """Self as-of join: each event paired with the PREVIOUS event of the same
    user (strict backward). Timestamps compared as exact nanosecond longs
    (ts_ns) on both engines — no float/precision gap between Spark's micros
    timestamps and DuckDB's nanos. Oracle = DuckDB's native ASOF JOIN."""
    from pyspark.sql import Window

    from rdfproject_msc_spark.operators import asof

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_ns"
    )
    # dedupe (user, ts) keeping max event_id so the as-of target is unique —
    # mirrors the oracle's row_number dedupe; ties would otherwise make the
    # matched row engine-dependent
    w = Window.partitionBy("user_id", "ts_ns").orderBy(F.col("event_id").desc())
    right = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = asof.asof_join(
        ev,
        right,
        on="user_id",
        left_ts="ts_ns",
        right_ts="ts_ns",
        right_cols=["event_id", "ts_ns"],
        prefix="prev_",
        strict=True,
        tiebreak="event_id",
    )
    # NOTE: the oracle-checked projection is the MATCHING only. A gap column
    # cannot hash-match across engines: DuckDB's parquet reader rounds the
    # nanos timestamps to nearest microsecond while Spark preserves exact
    # ts_ns (verified: all 1000 matches agree, every gap differs in the
    # sub-microsecond digits). Callers get exact gaps from ts_ns directly.
    return out.select("event_id", "user_id", F.col("prev_event_id"))


EVENTS_PREV_ASOF_SQL = """
WITH r AS (
    SELECT user_id, ts, event_id
    FROM (SELECT user_id, ts, event_id,
                 row_number() OVER (PARTITION BY user_id, ts
                                    ORDER BY event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
)
SELECT e.event_id, e.user_id,
       r.event_id AS prev_event_id
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND r.ts < e.ts
"""


def events_near_pairs(spark, sf_dir):
    """Range join: pairs of events of the SAME user within 1 hour of each
    other — interval_join's bucketized equi-shuffle instead of a per-key
    cartesian. Exact nanosecond timestamps on the Spark side; the oracle
    compares at DuckDB's microsecond read precision, with the 1h boundary
    nowhere near a sub-microsecond gap in this data (verified)."""
    from rdfproject_msc_spark.operators.asof import interval_join

    hour_ns = 3_600_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_ns"
    )
    pairs = interval_join(
        ev, ev, on="user_id", left_ts="ts_ns", right_ts="ts_ns",
        max_delta=hour_ns, prefix="near_",
    )
    return pairs.filter(F.col("event_id") < F.col("near_event_id")).select(
        "user_id", "event_id", F.col("near_event_id")
    )


EVENTS_NEAR_PAIRS_SQL = """
SELECT a.user_id, a.event_id, b.event_id AS near_event_id
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_ns(a.ts) - epoch_ns(b.ts)) <= 3600000000000
"""


def events_hourly_stream(spark, sf_dir):
    """Structured-Streaming twin of events_hourly: stage the events table as
    a parquet directory, consume it as a file-source stream (2 files per
    micro-batch), watermark + tumbling-window rollup, drain with
    availableNow into a memory sink, return the batch result. Oracle = the
    SAME SQL as the batch entry — stream-batch equivalence is the gate."""
    import os
    import tempfile
    import uuid

    from rdfproject_msc_spark import streaming as S

    tag = os.path.basename(os.path.normpath(sf_dir))
    run_id = uuid.uuid4().hex[:8]
    base = os.path.join(tempfile.gettempdir(), "rdfproject_msc_stream", tag)
    events_dir = S.stage_events_dir(spark, sf_dir, os.path.join(base, "events"))
    stream = S.read_events_stream(spark, events_dir, max_files_per_trigger=2)
    # fresh checkpoint + table name per run: a reused checkpoint would say
    # "already processed" and emit nothing under availableNow
    return S.run_to_memory_table(
        S.hourly_rollup(stream),
        spark,
        f"events_hourly_stream_{run_id}",
        os.path.join(base, f"ckpt_{run_id}"),
    )


# ---------------------------------------------------------------------------
# training-data-pipeline operators (north-star extensions)


def dedup_exact(spark, sf_dir):
    """Exact dedup, BOTH paths cross-checked in one entry: the bit-exact
    window baseline (full-text partition key) inner-joined with the scale
    path (xxhash64+length shuffle keys, text never shuffled). If the scale
    path kept a different representative for any text, the join loses that
    row and the driver's row-count gate breaks."""
    docs = load_table(spark, sf_dir, "documents")
    baseline = dedup.exact_dedup(docs)
    keys = dedup.exact_dedup_keys(docs).select("keep_id", "n_dups", "content_len")
    return baseline.join(
        keys, baseline.doc_id == keys.keep_id, "inner"
    ).select("doc_id", "text", "lang", "source", "n_chars", "n_dups", "content_len")


DEDUP_EXACT_SQL = """
WITH kept AS (
    SELECT doc_id, text, lang, source, n_chars
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
),
keys AS (
    SELECT min(doc_id) AS keep_id, count(*) AS n_dups,
           length(text) AS content_len
    FROM documents
    GROUP BY text
)
SELECT k.doc_id, k.text, k.lang, k.source, k.n_chars,
       s.n_dups, s.content_len
FROM kept k JOIN keys s ON s.keep_id = k.doc_id
"""


def dedup_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.1
    )


def _jaccard_sql(threshold: float) -> str:
    """Exact all-pairs 3-gram Jaccard ≥ threshold (DuckDB)."""
    return rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
    WHERE array_to_string(t[i:i+2], ' ') <> ''
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {threshold}
"""


DEDUP_JACCARD_SQL = _jaccard_sql(0.1)


def dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup: banded candidates + exact-Jaccard verify.

    Oracle = exact all-pairs Jaccard at the same threshold: with 32 bands of
    2 rows, P(LSH misses a pair | J=t) = (1-t²)^32 ≤ 1e-4 at t=0.5, so the
    verified LSH output equals the exact result on any realistic corpus
    (the testdata's near-dup pairs all sit at J ≥ 0.88: miss ≤ 4e-11).
    """
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3,
        threshold=0.5,
        n_hashes=64,
        bands=32,
        # testdata is a single small parquet file → 1 scan partition; spread
        # the hashing. At real scale the input supplies the parallelism.
        min_partitions=spark.sparkContext.defaultParallelism,
    )


DEDUP_MINHASH_SQL = _jaccard_sql(0.5)


def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: md5-derived 64-bit signatures, 8×8-bit banding.

    Recall is EXACT (pigeonhole: hamming ≤ 6 < 8 bands ⇒ some band matches),
    so the oracle is literal brute-force all-pairs hamming — no probability
    anywhere. md5 nibble arithmetic is identical in Spark and DuckDB."""
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3,
        max_hamming=6,
        min_partitions=spark.sparkContext.defaultParallelism,
    )


def _simhash_sql(max_hamming: int = 6) -> str:
    """Brute-force SimHash twin: same shingles, same md5-nibble bit mapping
    as dedup.simhash_signatures (nibble 15 - b//4 carries bit b at b%4)."""
    csum = []
    for b in range(64):
        pos = (15 - b // 4) + 1  # 1-based substring position in the digest
        nib = f"(strpos('0123456789abcdef', substr(dg, {pos}, 1)) - 1)"
        csum.append(
            f"sum((({nib} >> {b % 4}) & 1) * 2 - 1) AS c{b}"
        )
    lo = " + ".join(
        f"(CASE WHEN c{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN c{b} >= 0 THEN CAST({1 << (b - 32)} AS BIGINT) ELSE 0 END)"
        for b in range(32, 64)
    )
    return rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
    WHERE array_to_string(t[i:i+2], ' ') <> ''
),
nib AS (SELECT id, md5(shingle) AS dg FROM sh),
bits AS (SELECT id, {', '.join(csum)} FROM nib GROUP BY id),
sig AS (SELECT id, {lo} AS lo, {hi} AS hi FROM bits)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= {max_hamming}
"""


DEDUP_SIMHASH_SQL = _simhash_sql(6)


def cosine_neardup(spark, sf_dir):
    """Embedding near-dup pairs via hyperplane-LSH candidates + exact cosine
    verify. Oracle replicates the banded candidate generation with the same
    inlined planes (cf. ann_lsh_topk), then the same cosine filter."""
    return similarity.cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.2,
        dim=_ANN["dim"],
        n_planes=_ANN["n_planes"],
        bands=_ANN["bands"],
        seed=_ANN["seed"],
    )


def _cosine_neardup_sql(threshold: float = 0.2) -> str:
    dim, n_planes, bands = _ANN["dim"], _ANN["n_planes"], _ANN["bands"]
    bits = n_planes // bands
    mask = (1 << bits) - 1
    planes = similarity.hyperplanes(dim, n_planes, _ANN["seed"])
    sig_terms = []
    for j, comps in enumerate(planes):
        lit = "[" + ", ".join(str(c) for c in comps) + "]"
        weight = 1 << (n_planes - 1 - j)
        sig_terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {weight} ELSE 0 END)"
        )
    sig_expr = " + ".join(sig_terms)
    band_idx = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, {sig_expr} AS s FROM e),
bandv AS (
    SELECT vec_id, u.b AS band, (s >> (u.b * {bits})) & {mask} AS bv
    FROM sig, unnest({band_idx}) AS u(b)
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bandv a JOIN bandv b ON a.band = b.band AND a.bv = b.bv
                             AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       round(list_cosine_similarity(ea.v, eb.v), 6) AS score
FROM cand
JOIN e ea ON ea.vec_id = id_a
JOIN e eb ON eb.vec_id = id_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
"""


COSINE_NEARDUP_SQL = _cosine_neardup_sql(0.2)


def text_tokens(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return textstats.with_token_counts(docs).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens", "bytes_per_token"
    )


def passage_dedup_docs(spark, sf_dir):
    """Corpus-wide exact passage dedup (operators/passages.py, r7):
    repeated 3-word spans keep only the corpus-first occurrence — the
    span-level complement of document dedup (Lee et al. 2022). The
    corpus-first choice is a min-struct AGGREGATE (map-side combine),
    deliberately not a window: a passage duplicated across millions of
    documents is the hot key that would serialize a window partition at
    100 TB. The small-vocabulary synthetic corpus repeats thousands of
    3-grams, so the drop count is load-bearing (pinned non-zero in
    tests/test_passages.py)."""
    from rdfproject_msc_spark.operators.passages import passage_dedup

    docs = load_table(spark, sf_dir, "documents")
    return passage_dedup(docs, k=3)


PASSAGE_DEDUP_SQL = """
WITH words AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
idxed AS (
    SELECT doc_id, ws,
           unnest(range(CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS i
    FROM words
),
chunks AS (
    SELECT doc_id, CAST(i AS INT) AS idx,
           array_to_string(
               ws[(CAST(i AS INT)*3+1):(CAST(i AS INT)*3+3)], ' '
           ) AS passage
    FROM idxed
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY passage ORDER BY doc_id, idx
    ) AS rn
    FROM chunks
)
SELECT doc_id,
       coalesce(
           string_agg(passage, ' ' ORDER BY idx) FILTER (WHERE rn = 1),
           ''
       ) AS text,
       count(*) AS n_passages,
       count(*) FILTER (WHERE rn > 1) AS n_dropped
FROM ranked
GROUP BY doc_id
"""


TEXT_TOKENS_SQL = rf"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
       END AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
       round(octet_length(encode(text))
             / greatest(len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN.replace("'", "''")}')), 1),
             6) AS bytes_per_token
FROM documents
"""


def corpus_curate(spark, sf_dir):
    """The full training-data curation pipeline as ONE plan: exact dedup →
    MinHash-LSH near-dup removal → quality filter → token budget. This is
    the composed, nightly-run shape; every stage is also individually
    oracle-checked by its own entry."""
    from rdfproject_msc_spark.operators import curate

    return curate.curate_stats(
        load_table(spark, sf_dir, "documents"),
        near_dup_threshold=0.5,
        min_quality=0.3,
        min_partitions=spark.sparkContext.defaultParallelism,
    )


CORPUS_CURATE_SQL = rf"""
WITH uniq AS (
    SELECT doc_id, text FROM documents
    QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
),
toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM uniq),
sh AS (
    SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+2], ' ') AS shingle
    FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
    WHERE array_to_string(t[i:i+2], ' ') <> ''
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS ia, b.id AS ib, count(*) AS n
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
),
drops AS (
    SELECT DISTINCT ib AS doc_id
    FROM inter JOIN sizes sa ON sa.id = ia JOIN sizes sb ON sb.id = ib
    WHERE round(n / (sa.sz + sb.sz - n), 6) >= 0.5
),
kept AS (
    SELECT u.doc_id, u.text FROM uniq u
    LEFT JOIN drops d USING (doc_id) WHERE d.doc_id IS NULL
),
q AS (
    SELECT doc_id, text,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS nt,
           CAST(length(text) AS BIGINT) AS nc,
           CAST(length(text) AS BIGINT)
             - CAST(length(regexp_replace(text, '[.,!?;:''"()\[\]{{}}-]', '', 'g')) AS BIGINT) AS punct,
           len(list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS sw
    FROM kept
)
SELECT count(*) AS n_docs,
       CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
       CAST(sum(CAST(len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN.replace("'", "''")}')) AS BIGINT)) AS BIGINT) AS total_bpe_tokens
FROM q
WHERE round(least(nt / 50.0, 1.0) * 0.5
            + least(sw / greatest(nt, 1) * 5.0, 1.0) * 0.3
            + (1 - least(punct / greatest(nc, 1) * 10.0, 1.0)) * 0.2, 6) >= 0.3
"""


def dedup_components(spark, sf_dir):
    """Connected components over the MinHash near-dup graph: transitive
    near-dup clusters with their canonical (min-id) representative.
    Iterative min-label propagation on the engine side; since round 3 the
    oracle is a DuckDB RECURSIVE transitive closure over the exact-Jaccard
    edge set (fine at oracle scale; the recursive closure is the oracle's
    luxury, not the engine's plan), upgrading this entry from rows-only to
    fully hash-checked. The driver-side union-find twin remains pinned in
    tests/test_graph.py."""
    from rdfproject_msc_spark.operators import graph

    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        min_partitions=spark.sparkContext.defaultParallelism,
    )
    return graph.canonical_docs(pairs).select("comp", "n_members")


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({_jaccard_sql(0.5)}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
    SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u
)
SELECT comp, CAST(count(*) AS BIGINT) AS n_members
FROM labels
GROUP BY comp
"""


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (n-gram-overlap hygiene, the GPT-3/PaLM
    data-card step): documents whose distinct word 5-grams overlap a
    benchmark set ≥50% are flagged. The benchmark is the deterministic
    doc_id % 41 == 3 slice (a residue chosen so known near-duplicate pairs
    straddle the split at sf0.01 — the flag is load-bearing, not
    vacuously false); the corpus is the rest, so near-duplicates of
    benchmark docs (the synthetic corpus contains them) light up while
    ordinary shared phrasing stays under threshold. Scale shape: the
    benchmark n-gram set is broadcast (an eval set is megabytes by
    construction), n-grams derive per-row from built-in array functions,
    per-row array_distinct precedes the explode, and the only shuffle is
    the final doc-id aggregation."""
    from rdfproject_msc_spark.operators import decontam

    # repartition before the CPU-heavy per-row n-gram derivation: the
    # documents parquet is one small file → one input split, which would
    # serialize the whole gram build on a single core (measured 6s → 0.7s
    # at sf0.1). At real scale inputs are file-split anyway and the
    # repartition of raw docs is noise next to the gram CPU it spreads.
    docs = load_table(spark, sf_dir, "documents").repartition(64)
    return decontam.ngram_contamination(
        docs.filter(F.col("doc_id") % 41 != 3),
        docs.filter(F.col("doc_id") % 41 == 3),
        n=5,
        threshold=0.5,
    )


TEXT_DECONTAMINATE_SQL = """
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split(regexp_replace(lower(text),
                       '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
    FROM documents
),
ng AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 5
                THEN list_distinct(list_transform(range(1, len(toks) - 3),
                                   i -> array_to_string(toks[i:i+4], ' ')))
                ELSE [] END AS ngs
    FROM tok
),
bench AS (SELECT DISTINCT unnest(ngs) AS ng FROM ng WHERE doc_id % 41 = 3),
corpus AS (SELECT doc_id, unnest(ngs) AS ng FROM ng WHERE doc_id % 41 <> 3),
counted AS (
    SELECT c.doc_id, count(c.ng) AS n_ngrams, count(b.ng) AS n_matched
    FROM corpus c LEFT JOIN bench b ON c.ng = b.ng
    GROUP BY c.doc_id
)
SELECT d.doc_id,
       coalesce(n_ngrams, 0) AS n_ngrams,
       coalesce(n_matched, 0) AS n_matched,
       CAST(coalesce(n_matched, 0) AS DOUBLE)
         / CAST(greatest(coalesce(n_ngrams, 0), 1) AS DOUBLE) AS overlap_frac,
       coalesce(n_ngrams, 0) > 0
         AND CAST(coalesce(n_matched, 0) AS DOUBLE)
               / CAST(greatest(coalesce(n_ngrams, 0), 1) AS DOUBLE) >= 0.5
         AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 41 <> 3) d
LEFT JOIN counted USING (doc_id)
"""


def quality_model_filter(spark, sf_dir):
    """Model-based quality filtering (operators/classify.py): the GPT-3 /
    CCNet / DCLM curation step — a logistic probe over signed hashed-TF
    features scores every document's probability of being reference-
    quality prose vs junk. REFERENCE_MODEL's weights are deterministic
    literals (fit on the fixed built-in labeled sample by the
    no-SparkSession local fit; provenance pinned in tests/test_classify.py)
    so the DuckDB oracle inlines the same numbers. Scoring is JVM-only:
    hash_embed's two keyed aggregations, then the dot product statically
    expanded in fixed index order (engine-reproducible float summation)
    + sigmoid; probabilities round to 6 decimals on BOTH engines before
    compare/threshold (libm exp may differ in the last ulp)."""
    from rdfproject_msc_spark.operators.classify import (
        REFERENCE_MODEL,
        quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents").repartition(64)
    scored = quality_scores(docs, REFERENCE_MODEL)
    p6 = F.round(F.col("quality_prob"), 6)
    return scored.select(
        "doc_id",
        p6.alias("quality_prob"),
        (p6 >= F.lit(0.5)).alias("kept"),
    )


def _quality_model_sql() -> str:
    """DuckDB twin of quality_model_filter: hashvec's exact md5 nibble
    embedding (idx = hex digits 1-6 mod dim, sign = digit-7 parity,
    integer TF sums, L2 norm, float32 element rounding via CAST AS
    FLOAT) composed with the SAME fixed-order dot product + sigmoid."""
    from rdfproject_msc_spark.operators.classify import REFERENCE_MODEL

    m = REFERENCE_MODEL
    dim = m.dim

    def hex_val(start: int, n: int) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substr(md5(token), {start + i}, 1)) - 1)"
            f" * {16 ** (n - 1 - i)}"
            for i in range(n)
        )

    norm = " + ".join(f"v[{i + 1}] * v[{i + 1}]" for i in range(dim))
    dot = " + ".join(
        f"({m.weights[i]!r}) * CAST(e[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split(regexp_replace(lower(text),
                  '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')) AS token
    FROM documents
),
h AS (
    SELECT doc_id,
           CAST(({hex_val(1, 6)}) % {dim} AS BIGINT) AS idx,
           CASE WHEN ({hex_val(7, 1)}) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
    FROM tok
),
sparse AS (SELECT doc_id, idx, sum(sgn) AS w FROM h GROUP BY doc_id, idx),
maps AS (SELECT doc_id, map(list(idx), list(w)) AS m FROM sparse GROUP BY doc_id),
dense AS (
    SELECT d.doc_id,
           list_transform(range(0, {dim}),
                          i -> CAST(coalesce(element_at(m, i)[1], 0.0) AS DOUBLE)) AS v
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN maps USING (doc_id)
),
normed AS (SELECT doc_id, v, sqrt({norm}) AS nrm FROM dense),
emb AS (
    SELECT doc_id,
           list_transform(v, x -> CAST(CASE WHEN nrm = 0 THEN 0.0
                                            ELSE x / nrm END AS FLOAT)) AS e
    FROM normed
),
scored AS (
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(({m.bias!r}) + {dot}))), 6) AS quality_prob
    FROM emb
)
SELECT doc_id, quality_prob, quality_prob >= 0.5 AS kept FROM scored
"""


QUALITY_MODEL_SQL = _quality_model_sql()


def bloom_decontam(spark, sf_dir):
    """text_decontaminate's Bloom-pre-filtered twin (operators/bloom.py):
    a bounded bit array built over the benchmark's n-grams filters each
    document's n-gram ARRAY scan-side — pure codegen arithmetic on an
    array literal — BEFORE the explode, so the relation feeding the join
    shrinks from |corpus n-grams| to |true matches| + ~1% false positives.
    Zero false negatives by construction and the exact join resolves the
    FPs, so results are bit-identical to text_decontaminate (same oracle).
    At 100 TB this is the difference between exploding ~10^12 n-gram rows
    into a join and exploding only the contaminated sliver; the filter
    itself is kilobytes, mergeable across benchmark shards, and costs one
    bounded-size build job."""
    from rdfproject_msc_spark.operators import decontam

    docs = load_table(spark, sf_dir, "documents").repartition(64)
    return decontam.ngram_contamination(
        docs.filter(F.col("doc_id") % 41 != 3),
        docs.filter(F.col("doc_id") % 41 == 3),
        n=5,
        threshold=0.5,
        bloom_fpp=0.01,
    )


DSIR_N_BUCKETS = 2048


def dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py; Xie et al., NeurIPS
    2023): score every raw document by a log ratio of two hashed
    unigram+bigram bag LMs — target-like corpora up-weighted, generic
    text down. The model is a BOUNDED (bucket, log_ratio) table fit with
    two map-side-combined aggregations onto ≤ n_buckets keys, broadcast
    to the scoring join; the corpus is never shuffled by feature — its
    only exchange is the doc-keyed sum. md5-nibble bucket hashing keeps
    the DuckDB twin exact; log_weight rounds to 6dp on both sides (the
    per-doc sum order differs across engines at the last ulp)."""
    from rdfproject_msc_spark.operators import dsir

    # the feature explode multiplies rows ~10^3; split the scan so it
    # parallelizes even when the corpus arrives as one fat file (at
    # cluster scale the reader's split planning does this for free)
    docs = load_table(spark, sf_dir, "documents").repartition(64)
    target = docs.filter(F.col("doc_id") % 13 == 0)
    raw = docs.filter(F.col("doc_id") % 13 != 0)
    # fit-once: the bounded (bucket, log_ratio) model collects to a
    # local relation (dsir.dsir_fit) so the scoring plan does not re-run
    # both corpus-wide bucket-count fits per action — the same
    # build-then-score split as the Bloom filter / centroid / classifier
    # models; scores are bit-identical (doubles round-trip exactly)
    lr = dsir.dsir_fit(raw, target, n_buckets=DSIR_N_BUCKETS)
    w = dsir.dsir_weights(raw, target, n_buckets=DSIR_N_BUCKETS, log_ratios=lr)
    return w.select(
        "doc_id",
        "n_feats",
        F.round("log_weight", 6).alias("log_weight"),
    ).orderBy("doc_id")


def _dsir_weights_sql() -> str:
    n = DSIR_N_BUCKETS
    bucket = f"({_hex6_sql(1, 'md5(feat)')}) % {n}"
    return f"""
WITH tok AS (
    SELECT doc_id, (doc_id % 13 = 0) AS is_target,
           list_filter(string_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
    FROM documents
),
feats AS (
    SELECT doc_id, is_target, unnest(toks) AS feat FROM tok
    UNION ALL
    SELECT doc_id, is_target,
           unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS feat
    FROM tok
),
bucketed AS (SELECT doc_id, is_target, {bucket} AS bucket FROM feats),
p AS (SELECT bucket, count(*) AS c FROM bucketed WHERE is_target GROUP BY 1),
q AS (SELECT bucket, count(*) AS c FROM bucketed WHERE NOT is_target GROUP BY 1),
pt AS (SELECT coalesce(sum(c), 0) + 1.0 * {n} AS d FROM p),
qt AS (SELECT coalesce(sum(c), 0) + 1.0 * {n} AS d FROM q),
ratios AS (
    SELECT b.range AS bucket,
           ln((coalesce(p.c, 0) + 1.0) / (SELECT d FROM pt))
         - ln((coalesce(q.c, 0) + 1.0) / (SELECT d FROM qt)) AS lr
    FROM range({n}) b
    LEFT JOIN p ON p.bucket = b.range
    LEFT JOIN q ON q.bucket = b.range
),
doc_w AS (
    SELECT f.doc_id, count(*) AS n_feats, sum(r.lr) AS log_weight
    FROM bucketed f JOIN ratios r USING (bucket)
    WHERE NOT f.is_target
    GROUP BY 1
)
SELECT d.doc_id,
       coalesce(w.n_feats, 0) AS n_feats,
       round(coalesce(w.log_weight, 0.0), 6) AS log_weight
FROM (SELECT doc_id FROM documents WHERE doc_id % 13 <> 0) d
LEFT JOIN doc_w w USING (doc_id)
ORDER BY doc_id
"""


def events_user_reach(spark, sf_dir):
    """Exact distinct-user reach per event type via Spark's two-level
    RoaringBitmap aggregate (operators/sketches.py): bucket the id space
    (bitmap_bucket_number), build one bitmap per (type, bucket) with
    map-side combine, popcount + sum. Unlike count(DISTINCT), the exchange
    carries compressed bitmap state bounded by occupied buckets — not one
    row per (group, value) — and the per-(type, bucket) partials are
    losslessly OR-mergeable, so daily shards union without re-scanning
    history (the incremental-statistics contract pinned in
    tests/test_sketches.py)."""
    from rdfproject_msc_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    return sketches.exact_distinct(
        ev, ["event_type"], "user_id", out_col="n_users"
    ).orderBy("event_type")


EVENTS_USER_REACH_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def text_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return textstats.with_text_stats(docs).select(
        "doc_id",
        "n_tokens",
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


TEXT_STATS_SQL = r"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS nc,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS nt,
           CAST(length(text) AS BIGINT)
             - CAST(length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')) AS BIGINT) AS punct,
           len(list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS sw
    FROM documents
)
SELECT doc_id,
       nt AS n_tokens,
       round((nc - (nt - 1)) / greatest(nt, 1), 6) AS avg_token_len,
       round(punct / greatest(nc, 1), 6) AS punct_ratio,
       round(sw / greatest(nt, 1), 6) AS stopword_ratio,
       round(least(nt / 50.0, 1.0) * 0.5
             + least(sw / greatest(nt, 1) * 5.0, 1.0) * 0.3
             + (1 - least(punct / greatest(nc, 1) * 10.0, 1.0)) * 0.2, 6) AS quality_score
FROM base
"""


def text_ngram_top(spark, sf_dir):
    """Corpus-wide top-20 word bigrams (operators/ngrams.py, r6) — the
    boilerplate/stopword-analysis primitive: tokenize + n-gram build are
    whole-stage-codegen column expressions, counts map-side combine
    before ONE shuffle, and the top-K is TakeOrderedAndProject (per-
    partition heaps, no global sort). Deterministic (count desc, gram
    asc). Oracle: the same tokenization + UNNEST-range bigrams in
    DuckDB."""
    from rdfproject_msc_spark.operators.ngrams import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=20)


TEXT_NGRAM_TOP_SQL = r"""
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE trim(text) <> ''
),
grams AS (
  SELECT t[i] || ' ' || t[i + 1] AS ngram
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
)
SELECT ngram, COUNT(*) AS c FROM grams
GROUP BY ngram ORDER BY c DESC, ngram LIMIT 20
"""


def text_langid(spark, sf_dir):
    """Both language-ID heuristics side by side, each with an exact SQL
    twin: stopword-argmax (`lang_pred`) and the char-n-gram profile argmax
    the north-star brief names (`lang_pred_ngram`,
    textstats.language_id_ngram — Cavnar–Trenkle-style counts via the
    replace-trick, entirely whole-stage-codegen'd)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.language_id_ngram(textstats.language_id(docs)).select(
        "doc_id", "lang", "lang_pred", "lang_pred_ngram"
    )


def _sw_sql_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang]) + "]"


def _ng_sql_list(lang: str) -> str:
    return "[" + ", ".join(f"'{g}'" for g in textstats.CHAR_NGRAMS[lang]) + "]"


TEXT_LANGID_SQL = rf"""
WITH toks AS (
    SELECT doc_id, lang,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '\s+') END AS t
    FROM documents
),
hits AS (
    SELECT doc_id, lang, sw.code,
           len(list_filter(t, x -> list_contains(sw.words, x))) AS h
    FROM toks
    CROSS JOIN (VALUES
        ('de', {_sw_sql_list('de')}),
        ('en', {_sw_sql_list('en')}),
        ('es', {_sw_sql_list('es')}),
        ('fr', {_sw_sql_list('fr')}),
        ('zh', {_sw_sql_list('zh')})) AS sw(code, words)
),
best AS (
    SELECT doc_id, lang, code, h, max(h) OVER (PARTITION BY doc_id) AS mh
    FROM hits
),
sw_pred AS (
    SELECT doc_id, lang,
           CASE WHEN mh = 0 THEN 'und' ELSE min(code) END AS lang_pred
    FROM best
    WHERE h = mh
    GROUP BY doc_id, lang, mh
),
padded AS (
    SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents
),
nhits AS (
    SELECT doc_id, ng.code,
           CAST(list_sum(list_transform(ng.grams,
                g -> (length(s) - length(replace(s, g, ''))) // length(g)))
                AS BIGINT) AS h
    FROM padded
    CROSS JOIN (VALUES
        ('de', {_ng_sql_list('de')}),
        ('en', {_ng_sql_list('en')}),
        ('es', {_ng_sql_list('es')}),
        ('fr', {_ng_sql_list('fr')}),
        ('zh', {_ng_sql_list('zh')})) AS ng(code, grams)
),
nbest AS (
    SELECT doc_id, code, h, max(h) OVER (PARTITION BY doc_id) AS mh
    FROM nhits
),
ng_pred AS (
    SELECT doc_id,
           CASE WHEN mh = 0 THEN 'und' ELSE min(code) END AS lang_pred_ngram
    FROM nbest
    WHERE h = mh
    GROUP BY doc_id, mh
)
SELECT s.doc_id, s.lang, s.lang_pred, n.lang_pred_ngram
FROM sw_pred s JOIN ng_pred n ON s.doc_id = n.doc_id
"""


# BM25 lexical retrieval (round 5): the fixed corpus query keeps the
# entry deterministic; zero-shuffle scoring (plan-literal query terms,
# row-local tf/dl array expressions, TakeOrderedAndProject) — see
# operators/bm25.py for the full 100 TB design and the persisted
# postings path.
BM25_QUERY = "spark hash join performance"


def bm25_search(spark, sf_dir):
    """Zero-shuffle BM25 top-20 over the documents table: per-document
    tf/dl are row-local array expressions over the shared `_norm_tokens`
    tokenization, corpus stats reduce to ONE bounded driver row, idf
    folds in as plan literals, and the top-k runs as
    TakeOrderedAndProject (no Exchange anywhere — pinned in
    tests/test_skew_and_plans.py twin tests/test_bm25.py). Oracle: the
    identical formula in DuckDB SQL, both sides rounded to 6 decimals."""
    docs = load_table(spark, sf_dir, "documents")
    return _bm25_topk(docs, BM25_QUERY, k=20)


BM25_SEARCH_SQL = _bm25_oracle_sql(BM25_QUERY, 20)


def text_top_tokens(spark, sf_dir):
    """Corpus heavy hitters: top-20 whitespace tokens by document frequency
    (distinct doc count — robust to within-doc repetition). Exact count here;
    at 100 TB the two-level aggregation (partial per partition, merged) is
    the same plan, or a Count-Min/lossy-counting sketch replaces the exact
    tail. Deterministic tie-break on the token string."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("tok"))
        .limit(20)
    )


TEXT_TOP_TOKENS_SQL = r"""
SELECT tok, count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents)
WHERE tok <> ''
GROUP BY tok
ORDER BY doc_freq DESC, tok
LIMIT 20
"""


def text_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return textstats.fingerprint(docs).select("doc_id", "fp_rolling")


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id,
       list_reduce(
           list_transform(string_split_regex(trim(text), '\s+'),
                          t -> CAST(ascii(t) + length(t) AS BIGINT)),
           (a, b) -> (a * 31 + b) % 2147483647) AS fp_rolling
FROM documents
"""


def _hex6_sql(start: int, src: str = "md5(CAST(doc_id AS VARCHAR))") -> str:
    """DuckDB twin of Spark ``conv(substring(md5(...), start, 6), 16, 10)``:
    nibble-weighted sum via strpos — the cross-engine md5 arithmetic
    pattern of dedup._md5_nibbles."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({src}, {start + i}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"({terms})"


DSIR_WEIGHTS_SQL = _dsir_weights_sql()

DOCS_QUOTA_N = 50


def docs_quota_sample(spark, sf_dir):
    """Per-source QUOTA sampling (operators/topn.py, r6): cap every
    source at 50 documents chosen by deterministic md5(doc_id) priority
    — the mixture-control primitive that bounds a dominant source's
    absolute contribution to a training corpus (rate-based stratified
    sampling cannot: a source 100x larger still contributes 100x more
    rows at any rate). Exact, reproducible, and skew-robust: the salted
    two-stage top-N never puts a hot source through one window task.
    Oracle: the equivalent row_number-over-md5 window."""
    from rdfproject_msc_spark.operators.topn import quota_sample_per_key

    docs = load_table(spark, sf_dir, "documents")
    return quota_sample_per_key(
        docs, ["source"], DOCS_QUOTA_N, id_col="doc_id"
    ).select("source", "doc_id", "n_chars")


DOCS_QUOTA_SQL = f"""
SELECT source, doc_id, n_chars
FROM (SELECT source, doc_id, n_chars,
             row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents)
WHERE rn <= {DOCS_QUOTA_N}
"""


def corpus_split(spark, sf_dir):
    """Dataset partitioning for training (operators/sampling.py): a
    deterministic md5-bucket train/val/test split (80/10/10 — per-row
    projection, zero shuffle, stable under corpus growth) plus a
    deterministic 40-per-language stratified sample flag (per-stratum
    (hash, id) ranking — one shuffle on the strata key, parallel across
    strata). Both decisions draw on disjoint digit ranges of one digest,
    so split and sample are independent."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.with_split(docs, "doc_id")
    out = sampling.with_stratified_flag(out, "lang", 40, "doc_id")
    return out.select("doc_id", "lang", "split", "sampled")


CORPUS_SPLIT_SQL = f"""
WITH b AS (
    SELECT doc_id, lang,
           CAST({_hex6_sql(1)} % 1000 AS BIGINT) AS sb,
           CAST({_hex6_sql(7)} AS BIGINT) AS rb
    FROM documents
)
SELECT doc_id, lang,
       CASE WHEN sb < 100 THEN 'test'
            WHEN sb < 900 THEN 'train'
            ELSE 'val' END AS split,
       (row_number() OVER (PARTITION BY lang ORDER BY rb, doc_id) <= 40)
           AS sampled
FROM b
"""


def doc_pack(spark, sf_dir):
    """Sequence packing (operators/packing.py): documents in doc_id order,
    BPE-ish token counts, pack k = docs whose running token total lands in
    [k*2048, (k+1)*2048). The running total is a two-phase distributed
    prefix sum (per-bucket offsets + within-bucket windows) — the naive
    global-order window would collapse to one partition at scale. Small
    bucket_size here forces the multi-bucket path at test scale. The
    oracle computes the SAME totals with the naive global window: the
    equality proves the distributed decomposition exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", textstats.token_count_bpe(F.col("text")).alias("n_tok")
    )
    packed = packing.pack_documents(
        toks, "n_tok", budget=2048, bucket_size=128
    )
    return packing.pack_stats(packed, "n_tok")


DOC_PACK_SQL = rf"""
WITH tok AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN.replace("'", "''")}')) AS BIGINT) AS n_tok
    FROM documents
),
cum AS (
    SELECT doc_id, n_tok,
           coalesce(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM tok
)
SELECT CAST(cb // 2048 AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM cum
GROUP BY pack_id
"""


def knn_cosine(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_to(emb, query_id=0, k=10)


KNN_COSINE_SQL = """
SELECT e.vec_id,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])), 6) AS score
FROM embeddings e,
     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY score DESC, e.vec_id
LIMIT 10
"""

# ---------------------------------------------------------------------------
# multimodal columns (binary payload + typed metadata; operators/multimodal.py)

_ASSETS_CTE = """
assets AS (
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
)"""


def multimodal_stats(spark, sf_dir):
    assets = multimodal.attach_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.asset_stats(assets)


MULTIMODAL_STATS_SQL = f"""
WITH {_ASSETS_CTE}
SELECT modality,
       count(*) AS n_assets,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       round(avg(n_bytes), 6) AS avg_bytes,
       max(n_bytes % 640 + 1) AS max_width,
       min((n_bytes * 7) % 480 + 1) AS min_height
FROM assets
GROUP BY modality
"""


def multimodal_filter(spark, sf_dir):
    assets = multimodal.attach_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.filter_assets(
        assets, modality="image", min_bytes=200
    ).select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


MULTIMODAL_FILTER_SQL = f"""
WITH {_ASSETS_CTE}
SELECT doc_id, n_bytes,
       n_bytes % 640 + 1 AS width,
       (n_bytes * 7) % 480 + 1 AS height
FROM assets
WHERE modality = 'image' AND n_bytes >= 200
"""


def multimodal_decode(spark, sf_dir):
    """mapInPandas decode stage (deterministic fake decoder — see
    operators/multimodal.py). The fake decoder is byte arithmetic over the
    payload, so it IS SQL-expressible: the oracle re-derives width/height/
    channels/frames from the same bytes via hex()+substring byte extraction
    in DuckDB — the full Arrow round-trip (binary column → pandas batch →
    declared schema) is hash-checked, not just row-counted."""
    assets = multimodal.attach_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_assets(assets)


# byte b at 0-indexed position i of blob c == ('0x'||substring(hex(c),
# i*2+1, 2))::INT — DuckDB has no direct blob indexing, hex does it
MULTIMODAL_DECODE_SQL = """
WITH assets AS (
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS modality,
           encode(text) AS content,
           octet_length(encode(text)) AS n
    FROM documents
)
SELECT doc_id,
       modality,
       n > 0 AS ok,
       'fake' AS decoder,
       CASE WHEN n = 0 THEN 0
            ELSE ('0x' || substring(hex(content), 1, 2))::INT % 64 + 1
       END AS width,
       CASE WHEN n = 0 THEN 0
            ELSE ('0x' || substring(hex(content), n * 2 - 1, 2))::INT % 64 + 1
       END AS height,
       CASE WHEN n = 0 THEN 0
            ELSE ('0x' || substring(hex(content), (n // 2) * 2 + 1, 2))::INT % 3 + 1
       END AS n_channels,
       CASE WHEN n = 0 THEN 0 ELSE CAST(n % 16 + 1 AS INT) END AS n_frames
FROM assets
"""


def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (the embeddings scale path).

    The oracle replicates the SAME LSH — the deterministic ±1 hyperplanes are
    inlined into the SQL as literals — so the hash-match pins the operator's
    exact semantics (candidates ∪ scoring ∪ top-k), independent of recall.
    Recall vs brute force is asserted separately in tests/test_operators.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk_to(
        emb,
        query_id=_ANN["query_id"],
        k=_ANN["k"],
        dim=_ANN["dim"],
        n_planes=_ANN["n_planes"],
        bands=_ANN["bands"],
        seed=_ANN["seed"],
    )


def _ann_lsh_sql() -> str:
    """DuckDB twin of ann_lsh_topk with the hyperplanes inlined."""
    dim, n_planes, bands = _ANN["dim"], _ANN["n_planes"], _ANN["bands"]
    bits = n_planes // bands
    mask = (1 << bits) - 1
    planes = similarity.hyperplanes(dim, n_planes, _ANN["seed"])
    sig_terms = []
    for j, comps in enumerate(planes):
        lit = "[" + ", ".join(str(c) for c in comps) + "]"
        weight = 1 << (n_planes - 1 - j)  # MSB-first, matching lsh_signatures
        sig_terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {weight} ELSE 0 END)"
        )
    sig_expr = " + ".join(sig_terms)
    band_idx = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, {sig_expr} AS s FROM e),
bandv AS (
    SELECT vec_id, u.b AS band, (s >> (u.b * {bits})) & {mask} AS bv
    FROM sig, unnest({band_idx}) AS u(b)
),
qb AS (SELECT band, bv FROM bandv WHERE vec_id = {_ANN["query_id"]}),
cand AS (
    SELECT DISTINCT bandv.vec_id
    FROM bandv JOIN qb USING (band, bv)
    WHERE bandv.vec_id <> {_ANN["query_id"]}
)
SELECT e.vec_id, round(list_cosine_similarity(e.v, q.v), 6) AS score
FROM cand
JOIN e USING (vec_id),
     (SELECT v FROM e WHERE vec_id = {_ANN["query_id"]}) q
ORDER BY score DESC, e.vec_id
LIMIT {_ANN["k"]}
"""


ANN_LSH_TOPK_SQL = _ann_lsh_sql()


# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # benched at sf0.1


# The external driver records correctness rows for at most 50 registry
# entries, so the registry is held at EXACTLY 50 (tests/test_registry.py
# asserts it; demote an entry before adding one): implementation/layout
# variants share one cross-checking entry (rdf_layout_matrix, dedup_exact,
# rdf_sign_union) and twins whose oracle another entry already carries
# (events_hourly batch, rdf_decode_2hop, dedup_jaccard, split+p split-join)
# are pytest-covered instead (tests/test_demoted.py). Least-proven entries
# lead, long-multi-round-green reference parity follows.
REGISTRY: dict[str, QuerySpec] = {
    # similarity + multimodal (starved of driver rows in round 2 — first)
    "knn_cosine": QuerySpec(knn_cosine, KNN_COSINE_SQL, headline=True),
    "ann_lsh_topk": QuerySpec(ann_lsh_topk, ANN_LSH_TOPK_SQL, headline=True),
    "multimodal_stats": QuerySpec(multimodal_stats, MULTIMODAL_STATS_SQL, headline=True),
    # multimodal_filter demoted r9 (slot → rdf_ingest_nt): the metadata
    # predicate pushdown is carried by multimodal_stats' driver row; oracle
    # kept in tests/test_demoted.py
    # multimodal_decode demoted r6 (slot -> docs_quota_sample): the
    # mapInPandas decode plumbing stays oracle-pinned in
    # tests/test_demoted.py; stats+filter keep the family's driver rows
    "docs_quota_sample": QuerySpec(docs_quota_sample, DOCS_QUOTA_SQL),
    # new / reworked this round
    "sparql_nested": QuerySpec(sparql_nested, SPARQL_NESTED_SQL, headline=True),
    "sparql_subquery": QuerySpec(sparql_subquery, SPARQL_SUBQUERY_SQL, headline=True),
    "sparql_compat": QuerySpec(sparql_compat, SPARQL_COMPAT_SQL, headline=True),
    "rdf_layout_matrix": QuerySpec(rdf_layout_matrix, RDF_PATH_2HOP_SQL),
    # sparql_optional demoted r6 (slot → sparql_lang): OPTIONAL/LeftJoin
    # lowering stays driver-checked via sparql_compat and oracle-pinned in
    # tests/test_demoted.py
    "sparql_lang": QuerySpec(sparql_lang, SPARQL_LANG_SQL, headline=True),
    "dedup_components": QuerySpec(dedup_components, DEDUP_COMPONENTS_SQL),
    # training-data pipeline
    # dedup_exact demoted r9 (slot → rdf_update_lifecycle): exact dedup is
    # corpus_curate's first pipeline stage (driver-checked there); the
    # window-vs-scale-keys cross-check oracle kept in tests/test_demoted.py
    "rdf_update_lifecycle": QuerySpec(
        rdf_update_lifecycle, RDF_UPDATE_LIFECYCLE_SQL
    ),
    "dedup_minhash": QuerySpec(dedup_minhash, DEDUP_MINHASH_SQL, headline=True),
    "dedup_simhash": QuerySpec(dedup_simhash, DEDUP_SIMHASH_SQL, headline=True),
    # cosine_neardup demoted r8 (slot → events_user_reach): the LSH
    # candidate + exact-cosine family is carried by ann_lsh_topk and
    # semantic_dedup; oracle kept in tests/test_demoted.py
    "events_user_reach": QuerySpec(
        events_user_reach, EVENTS_USER_REACH_SQL, headline=True
    ),
    # text_tokens demoted r7 (slot → passage_dedup; its family twin
    # text_stats keeps a driver row) — still oracle-checked in
    # tests/test_demoted.py
    "passage_dedup": QuerySpec(
        passage_dedup_docs, PASSAGE_DEDUP_SQL, headline=True
    ),
    "corpus_curate": QuerySpec(corpus_curate, CORPUS_CURATE_SQL, headline=True),
    "corpus_split": QuerySpec(corpus_split, CORPUS_SPLIT_SQL),
    "doc_pack": QuerySpec(doc_pack, DOC_PACK_SQL),
    # text_stats demoted r10 (slot → sparql_lexical_str): the
    # length/punct/word aggregate profile is exercised by quality/C4/
    # Gopher rows daily; oracle kept in tests/test_demoted.py
    "sparql_lexical_str": QuerySpec(
        sparql_lexical_str, SPARQL_LEXICAL_STR_SQL, headline=True
    ),
    # text_langid demoted r6 (slot -> text_ngram_top): the n-gram
    # language-ID heuristic stays oracle-pinned in tests/test_demoted.py
    # text_ngram_top demoted r9 (slot → rdf_rdfs_closure): the n-gram
    # explode + keyed-agg heavy-hitter shape is carried by bm25_search's
    # headline row; oracle kept in tests/test_demoted.py
    "rdf_rdfs_closure": QuerySpec(rdf_rdfs_closure, RDF_RDFS_CLOSURE_SQL),
    # text_fingerprint demoted r6 (slot → sparql_from): the rolling-hash
    # fingerprint stays oracle-pinned in tests/test_demoted.py; the
    # textstats family keeps text_stats/text_langid/text_tokens rows
    "sparql_from": QuerySpec(sparql_from, SPARQL_FROM_SQL),
    # text_top_tokens demoted r5 (slot → bm25_search): corpus heavy
    # hitters — machinery (token explode + keyed agg) shared with
    # text_tokens and the LM vocabulary; pinned in tests/test_demoted.py
    "bm25_search": QuerySpec(bm25_search, BM25_SEARCH_SQL, headline=True),
    # analytics surface
    "tpch_q1": QuerySpec(tpch_q1, TPCH_Q1_SQL, headline=True),
    "tpch_q3": QuerySpec(tpch_q3, TPCH_Q3_SQL, headline=True),
    "tpch_q5": QuerySpec(tpch_q5, TPCH_Q5_SQL, headline=True),
    # top_orders_per_priority demoted r8 (slot → dsir_weights): the salted
    # two-stage top-N machinery (operators/topn.py) stays driver-checked
    # via docs_quota_sample; oracle kept in tests/test_demoted.py
    "dsir_weights": QuerySpec(dsir_weights, DSIR_WEIGHTS_SQL, headline=True),
    "orders_rollup": QuerySpec(orders_rollup, ORDERS_ROLLUP_SQL, headline=True),
    # orders_percentiles demoted r8 (slot → quality_model_filter): exact
    # percentile_disc surface; oracle kept in tests/test_demoted.py
    "quality_model_filter": QuerySpec(
        quality_model_filter, QUALITY_MODEL_SQL, headline=True
    ),
    # customers_setops demoted r7 (slot → sparql_value_cmp): INTERSECT/
    # EXCEPT surface, still oracle-checked in tests/test_demoted.py
    "sparql_value_cmp": QuerySpec(
        sparql_value_cmp, SPARQL_VALUE_CMP_SQL, headline=True
    ),
    # parts_semi_anti demoted r11 (slot → sparql_value_order): the
    # semi/anti join shapes stay driver-checked via text_decontaminate
    # and bloom_decontam; still oracle-checked in tests/test_demoted.py
    "sparql_value_order": QuerySpec(
        sparql_value_order, SPARQL_VALUE_ORDER_SQL, headline=True
    ),
    # events_props_json was demoted mid-r12 to make room for
    # rdf_ingest_rdfxml; r13 restored it, which pushed sparql_graph to
    # row 51 — demoted in r14 to hold the registry at 50.
    "events_props_json": QuerySpec(events_props_json, EVENTS_PROPS_JSON_SQL),
    "rdf_ingest_rdfxml": QuerySpec(
        rdf_ingest_rdfxml, RDF_INGEST_RDFXML_SQL, headline=True
    ),
    # events_distinct_users demoted r5 (slot → sparql_subquery): per-group
    # DISTINCT aggregation, machinery shared with orders_rollup/tpch_q1;
    # pinned in tests/test_demoted.py (HLL error pin already lives in
    # tests/test_registry_extras.py)
    # customer_running_revenue demoted r8 (slot → bloom_decontam): the
    # running-window surface is carried by events_prev_asof + the batching
    # window twins; oracle kept in tests/test_demoted.py
    "bloom_decontam": QuerySpec(
        bloom_decontam, TEXT_DECONTAMINATE_SQL, headline=True
    ),
    # r8: events_pivot demoted to tests/test_demoted.py (slot →
    # semantic_dedup — conditional aggregation stays covered by the
    # rollup/percentile rows)
    "semantic_dedup": QuerySpec(
        semantic_dedup_embeddings, SEMANTIC_DEDUP_SQL, headline=True
    ),
    "skew_salted_join": QuerySpec(skew_salted_join, SKEW_SALTED_JOIN_SQL, headline=True),
    "bucketed_join": QuerySpec(bucketed_join, BUCKETED_JOIN_SQL, headline=True),
    "events_hourly_stream": QuerySpec(events_hourly_stream, EVENTS_HOURLY_SQL),
    "events_prev_asof": QuerySpec(events_prev_asof, EVENTS_PREV_ASOF_SQL, headline=True),
    "events_near_pairs": QuerySpec(events_near_pairs, EVENTS_NEAR_PAIRS_SQL),
    # reference parity (green in rounds 1 and 2)
    "rdf_path_2hop": QuerySpec(rdf_path_2hop, RDF_PATH_2HOP_SQL, headline=True),
    "rdf_path_2hop_all": QuerySpec(rdf_path_2hop_all, RDF_PATH_2HOP_ALL_SQL, headline=True),
    # rdf_path_2hop_store demoted r5 (slot → sparql_compat): the
    # persisted-store variant of rdf_path_2hop — rdf_layout_matrix already
    # cross-checks all four persisted layouts against the in-memory plan;
    # pinned in tests/test_demoted.py
    # sparql_2hop_store demoted r5 (slot → sparql_nested): the persisted-
    # store + pruning variant of sparql_2hop, whose oracle twin keeps its
    # row; pinned in tests/test_demoted.py
    "rdf_encode_terms": QuerySpec(rdf_encode_terms, RDF_ENCODE_TERMS_SQL),
    "rdf_split_join": QuerySpec(rdf_split_join, RDF_SPLIT_JOIN_SQL, headline=True),
    "sparql_regex": QuerySpec(sparql_regex, SPARQL_REGEX_SQL, headline=True),
    "rdf_text_lifecycle": QuerySpec(rdf_text_lifecycle, RDF_DECODE_2HOP_SQL),
    # r9: the raw-RDF first mile — N-Triples parse + distributed dictionary
    # build + encode + sign-split layout + id-level query + decode
    "rdf_ingest_nt": QuerySpec(rdf_ingest_nt, RDF_INGEST_NT_SQL, headline=True),
    "rdf_sign_union": QuerySpec(rdf_sign_union, RDF_SIGN_UNION_SQL),
    "sparql_2hop": QuerySpec(sparql_2hop, SPARQL_2HOP_SQL, headline=True),
    "text_decontaminate": QuerySpec(text_decontaminate, TEXT_DECONTAMINATE_SQL, headline=True),
    "sparql_groupby": QuerySpec(sparql_groupby, SPARQL_GROUPBY_SQL),
    # sparql_filter demoted r5: FILTER connectives stay oracle-checked in
    # tests/test_demoted.py and fuzz-covered by tests/test_properties.py's
    # random clause compositions.
    # sparql_graph demoted r14 (it was row 51, past the 50-row
    # correctness window): GRAPH ?g over named-graph quads keeps its
    # DuckDB oracle in tests/test_demoted.py; sparql_from keeps the
    # named-graph family's checked row.
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }
