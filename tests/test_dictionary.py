"""Dictionary invariants: id-0 sentinel reservation, uniqueness validation,
bounded constant lookup errors."""

from __future__ import annotations

import pytest

from rdfproject_msc_spark.dictionary import Dictionary, DictionaryError


def test_validate_accepts_clean(spark):
    d = Dictionary(spark.createDataFrame([(1, "a"), (2, "b")], "id long, term string"))
    d.validate()  # no raise


def test_validate_rejects_zero_id(spark):
    d = Dictionary(spark.createDataFrame([(0, "a")], "id long, term string"))
    with pytest.raises(DictionaryError, match="reserved id 0"):
        d.validate()


def test_validate_rejects_duplicate_ids(spark):
    d = Dictionary(
        spark.createDataFrame([(1, "a"), (1, "b")], "id long, term string")
    )
    with pytest.raises(DictionaryError, match="ids are not unique"):
        d.validate()


def test_validate_rejects_duplicate_terms(spark):
    d = Dictionary(
        spark.createDataFrame([(1, "a"), (2, "a")], "id long, term string")
    )
    with pytest.raises(DictionaryError, match="terms are not unique"):
        d.validate()


def test_encode_terms_missing_raises(spark):
    d = Dictionary(spark.createDataFrame([(1, "a")], "id long, term string"))
    with pytest.raises(DictionaryError, match="not in dictionary.*'zzz'"):
        d.encode_terms(["a", "zzz"])


def test_decode_unknown_id_is_null(spark):
    d = Dictionary(spark.createDataFrame([(1, "a")], "id long, term string"))
    df = spark.createDataFrame([(1,), (999,)], "x long")
    got = {r.x for r in d.decode(df, ["x"]).collect()}
    assert got == {"a", None}


def test_sv_relation_ids_are_long(spark):
    """A pre-derived STR-value relation with int ids attaches with the
    same long id column as the derive-on-attach path."""
    from rdfproject_msc_spark.sparql import planner as P

    sv = spark.createDataFrame([(1, '"a"', "a")], "id int, term string, __sv string")
    d = Dictionary(sv.select("id", "term"), sv_df=sv)
    token = P._ACTIVE_STYLE.set("lexical")
    try:
        rel = P._dict_relation(d, "x_id", "x_term")
    finally:
        P._ACTIVE_STYLE.reset(token)
    assert dict(rel.dtypes)["x_id"] == "bigint"
    assert dict(rel.dtypes)["x_id"] == dict(d.df.dtypes)["id"]


def test_append_terms_mints_new_ids_only(spark):
    d = Dictionary(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, term string")
    )
    ext, minted = d.append_terms(["d", "c"])
    assert minted == {"c": 3, "d": 4}  # lexicographic rank past max(id)
    assert sorted(map(tuple, ext.df.collect())) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]
    ext.validate()
