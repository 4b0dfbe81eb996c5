"""The driver contract in tier-1: every `__spark_entry__.queries()` row
runs on the session and must equal its `oracle_sql()` twin in DuckDB
over the sf0.001 tables, compared as `scripts/check_contract.py`
compares at the other scale factors."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

import check_contract  # noqa: E402
from check_contract import entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = check_contract.oracle_views(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_row_matches_oracle(spark, con, name):
    got = QUERIES[name](spark, SF).toPandas()
    exp = con.execute(ORACLES[name]).fetchdf()
    assert check_contract.mismatches(got, exp) == []


def test_entry_is_the_1h_tier(spark, con):
    (n_1h,) = con.execute(f"SELECT count(*) FROM ({ORACLES['cascade_1h']})").fetchone()
    assert n_1h > 0
    assert entrymod.entry(spark).count() == n_1h
