"""Every ``__spark_entry__.queries()`` entry against its DuckDB
``oracle_sql()`` twin, at the suite's scale factor (sf0.001 by default):
the default-tier form of scripts/verify_oracle.py."""

import pytest

import __spark_entry__
from scripts.oracle import connect, mismatch, oracle_result, spark_result

QUERIES = __spark_entry__.queries()
ORACLES = __spark_entry__.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = connect(sf_dir)
    yield con
    con.close()


def test_every_entry_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle(name, spark, sf_dir, duck):
    want = oracle_result(duck, ORACLES[name])
    got = spark_result(QUERIES[name](spark, sf_dir))
    why = mismatch(got, want)
    assert why is None, f"{name}: {why}"
