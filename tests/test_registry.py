"""Every registry entry runs against its DuckDB oracle at sf0.001 —
a local mirror of the driver's t2 correctness gate."""

import pytest

from rdfproject_msc_spark.registry import REGISTRY
from tests.oracle import assert_matches_oracle

ORACLED = [n for n, s in REGISTRY.items() if s.oracle]


def test_registry_holds_exactly_50_rows():
    """Correctness runs check only the first 50 entries in dict order:
    a 51st row silently loses its oracle check (r13), so demote before
    adding."""
    assert len(REGISTRY) == 50


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(name, spark, sf_dir):
    spec = REGISTRY[name]
    assert_matches_oracle(spec.fn(spark, sf_dir), spec.oracle, sf_dir)


@pytest.mark.parametrize("name", [n for n, s in REGISTRY.items() if not s.oracle])
def test_rows_only(name, spark, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.count() >= 0
