"""Plan pins for the copy-on-write UPDATE lineage (sparql/update.py).

Ground payloads (INSERT/DELETE DATA, CLEAR, VALUES blocks, minted
vocabulary) must enter plans as JVM-local relations: a
``createDataFrame(<python list>)`` leaf is a ``Scan ExistingRDD`` over a
pickled Python RDD, which every later read re-runs through Python
workers. Inserts resolve set semantics eagerly, so each update reads the
previous store once and adds a constant number of plan nodes."""

from __future__ import annotations

import pytest

from rdfproject_msc_spark.engine import Engine

EX = "http://ex.org/"
NT = "".join(
    f"<{EX}s{i}> <{EX}p> <{EX}o{i % 3}> .\n" for i in range(10)
) + f'<{EX}s0> <{EX}name> "zero" .\n'


@pytest.fixture(scope="module")
def persisted(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lineage")
    nt = root / "g.nt"
    nt.write_text(NT)
    eng = Engine(spark).load_triples(str(nt), fmt="nt")
    eng.save(str(root / "store"), dict_path=str(root / "dict"))
    eng.close()
    return str(root / "store"), str(root / "dict")


def _open(spark, persisted) -> Engine:
    store, dict_path = persisted
    return Engine(spark).open(store, dict_path=dict_path)


def _executed(df) -> str:
    df.collect()  # read the plan that actually ran
    return df._jdf.queryExecution().executedPlan().toString()


def _logical(df) -> str:
    return df._jdf.queryExecution().logical().treeString()


def _parquet_leaves(df) -> int:
    return sum(
        1
        for line in _logical(df).splitlines()
        if "Relation [" in line and line.rstrip().endswith("parquet")
    )


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_ground_updates_keep_lineage_on_the_jvm(spark, persisted):
    eng = _open(spark, persisted)
    eng.update(
        f"INSERT DATA {{ <{EX}new> <{EX}p> <{EX}o1> . "
        f"<{EX}s1> <{EX}p> <{EX}o1> }} ; "  # the second is already stored
        f"DELETE DATA {{ <{EX}s2> <{EX}p> <{EX}o2> }}"
    )
    for df in (eng.store.df, eng.dictionary.df):
        assert "ExistingRDD" not in _executed(df)
    # the insert probed the store eagerly: the new plan reads it once
    assert _parquet_leaves(eng.store.df) == 1
    assert eng.store.df.count() == 11
    eng.update("CLEAR DEFAULT")
    assert "ExistingRDD" not in _executed(eng.store.df)
    assert eng.store.df.count() == 0


def test_insert_with_nothing_new_returns_the_store(spark, persisted):
    eng = _open(spark, persisted)
    before = eng.store
    eng.update(f"INSERT DATA {{ <{EX}s1> <{EX}p> <{EX}o1> }}")
    assert eng.store is before


def test_store_plan_grows_linearly_over_inserts(spark, persisted):
    """Each INSERT adds the same few nodes; the lazy probe that this
    replaced re-read the store twice per insert (12·2^k − 10 nodes)."""
    eng = _open(spark, persisted)
    sizes = [len(_logical(eng.store.df).splitlines())]
    dict_sizes = [len(_logical(eng.dictionary.df).splitlines())]
    for k in range(4):
        eng.update(f"INSERT DATA {{ <{EX}n{k}> <{EX}p> <{EX}o1> }}")
        sizes.append(len(_logical(eng.store.df).splitlines()))
        dict_sizes.append(len(_logical(eng.dictionary.df).splitlines()))
    for seq in (sizes, dict_sizes):
        steps = {b - a for a, b in zip(seq, seq[1:])}
        assert len(steps) == 1 and 0 < steps.pop() <= 4, seq
    assert _parquet_leaves(eng.store.df) == 1
    assert eng.store.df.count() == 15


def test_values_query_plan_has_no_python_rdd(spark, persisted):
    eng = _open(spark, persisted)
    df = eng.sparql(
        f"SELECT ?x ?o WHERE {{ VALUES ?x {{ <{EX}s1> <{EX}s4> }} "
        f"?x <{EX}p> ?o }}",
        decode=True,
    )
    plan = _executed(df)
    assert "LocalTableScan" in plan  # the VALUES block, as a local relation
    assert "ExistingRDD" not in plan
    assert sorted((r["x"], r["o"]) for r in df.collect()) == [
        (f"<{EX}s1>", f"<{EX}o1>"),
        (f"<{EX}s4>", f"<{EX}o1>"),
    ]


def test_minting_terms_leaves_no_persisted_rdds(spark, persisted):
    """Minting dictionary ids ranks the new terms through persisted
    range-partitioned relations; INSERT DATA and CONSTRUCT must release
    them once the ids are collected."""
    eng = _open(spark, persisted)
    before = _persisted_rdds(spark)
    eng.update(f"INSERT DATA {{ <{EX}m1> <{EX}q> <{EX}m2> }}")
    assert _persisted_rdds(spark) == before
    out = eng.sparql(
        f"CONSTRUCT {{ ?s <{EX}minted> ?o }} WHERE {{ ?s <{EX}p> ?o }}",
        decode=True,
    )
    assert out.count() == 10
    assert _persisted_rdds(spark) == before
