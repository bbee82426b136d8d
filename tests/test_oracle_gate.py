"""The correctness gate: every registered query matches its DuckDB oracle
at sf0.01 (row count, column names, order-insensitive values), through
the same per-query check ``scripts/check_correctness.py`` runs.

Run one query's case with ``pytest tests/test_oracle_gate.py -k <name>``."""

from __future__ import annotations

import pytest

from certified_dogs_and_cats_spark.queries import QUERIES
from scripts.check_correctness import check_query, oracle_connection

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = oracle_connection(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, con, name):
    row = check_query(spark, con, SF, name)
    assert row["hash_match"], row["err"]
