"""Every ``__spark_entry__.queries()`` entry against its DuckDB
``oracle_sql()`` twin, at the suite's scale factor (sf0.001 by default):
the default-tier form of scripts/verify_oracle.py. The slow tier repeats
the sweep at sf0.01, the sibling testdata directory."""

import os

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


@pytest.fixture(scope="module")
def sf001_dir(sf_dir):
    d = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isdir(d):
        pytest.skip(f"no sf0.01 testdata next to {sf_dir}")
    return d


@pytest.fixture(scope="module")
def duck_sf001(sf001_dir):
    con = connect(sf001_dir)
    yield con
    con.close()


def _check_entry(name, spark, sf_dir, duck):
    want = oracle_result(duck, ORACLES[name])
    got = spark_result(QUERIES[name](spark, sf_dir))
    why = mismatch(got, want)
    assert why is None, f"{name}: {why}"


def test_every_entry_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle(name, spark, sf_dir, duck):
    _check_entry(name, spark, sf_dir, duck)


@pytest.mark.slow
@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle_sf001(name, spark, sf001_dir, duck_sf001):
    _check_entry(name, spark, sf001_dir, duck_sf001)
