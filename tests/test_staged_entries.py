"""Staged catalog entries ↔ DuckDB oracle parity. Staged entries live in
catalog.STAGED_QUERIES, outside the driver surface, until deliberately
promoted.

This runs the EXACT driver compare on every staged entry (same
`parity.compare` the main sweep uses, same SPARK_GRAFT_TEST_SF_DIR
override for the sf0.01 sweep) so promotion is always a decorator flip,
not a development task.
"""

import os

import pytest

from steampipe_plugin_terraform_spark.catalog import (
    ORACLES,
    QUERIES,
    STAGED_ORACLES,
    STAGED_QUERIES,
)

from .parity import compare, duckdb_con

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF_DIR)
    yield c
    c.close()


def test_staged_entries_not_in_frozen_surface():
    """The freeze invariant: staged names must not leak into the driver
    surface until promotion (and every staged entry ships an oracle —
    no rows-only staging)."""
    assert not set(STAGED_QUERIES) & set(QUERIES)
    assert not set(STAGED_ORACLES) & set(ORACLES)
    assert set(STAGED_ORACLES) == set(STAGED_QUERIES)


@pytest.mark.parametrize("name", sorted(STAGED_ORACLES))
def test_staged_oracle_parity(spark, con, name):
    df = STAGED_QUERIES[name](spark, SF_DIR)
    ok, msg = compare(df, con, STAGED_ORACLES[name])
    assert ok, f"{name}: {msg}"
