"""Drive the degenerate-division guards on BOTH engines: Spark's
non-ANSI DIV yields NULL where DuckDB's // raises — the guards exist so
both sides emit NULL deliberately, and this module is the only place the
branches actually fire.

A synthetic corpus directory is assembled per test: the table under
test is replaced by a crafted degenerate parquet (single linestatus
group, all-tied quantities) and every other table symlinks to sf0.001
so ``parity.duckdb_con`` can still bind all ten views. Each test then runs
the EXACT driver compare — not just the Spark side — and additionally
asserts the guarded column is genuinely NULL (a compare that passed
with non-NULL values would prove nothing about the branch)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from steampipe_plugin_terraform_spark.catalog import ORACLES, QUERIES

from .parity import TABLES, compare, duckdb_con

SF_SRC = "/root/testdata/sf0.001"


def _corpus(tmp_path, overrides: dict) -> str:
    """Build a corpus dir: crafted parquet for `overrides`, symlinks to
    the sf0.001 files for every other table."""
    d = tmp_path / "corpus"
    d.mkdir()
    for t in TABLES:
        if t in overrides:
            pq.write_table(overrides[t], str(d / f"{t}.parquet"))
        else:
            os.symlink(f"{SF_SRC}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


def _lineitem(rows) -> pa.Table:
    return pa.table(
        {
            "l_quantity": pa.array([r[0] for r in rows], pa.float64()),
            "l_linestatus": pa.array([r[1] for r in rows], pa.string()),
            "l_returnflag": pa.array([r[2] for r in rows], pa.string()),
            "l_discount": pa.array([r[3] for r in rows], pa.float64()),
        }
    )


def _run(spark, tmp_path, name, overrides):
    sf = _corpus(tmp_path, overrides)
    fn, sql = QUERIES[name], ORACLES[name]
    df = fn(spark, sf)
    rows = df.collect()
    con = duckdb_con(sf)
    try:
        ok, msg = compare(fn(spark, sf), con, sql)
    finally:
        con.close()
    assert ok, f"{name} degenerate parity: {msg}"
    return rows


def test_mannwhitney_missing_group_nulls_z(spark, tmp_path):
    # only linestatus 'F' exists → n_b = 0 → mean2 = 0 → z2_e3 NULL on
    # BOTH sides (DuckDB would raise on // 0 without the CASE guard)
    rows = _run(
        spark, tmp_path, "q_lineitem_mannwhitney_u",
        {"lineitem": _lineitem([(1.0, "F", "A", 0.0), (2.0, "F", "A", 0.0),
                                (3.0, "F", "R", 0.0)])},
    )
    assert len(rows) == 1 and rows[0]["z2_e3"] is None
    assert (rows[0]["n_a"], rows[0]["n_b"]) == (3, 0)


def test_kruskal_all_tied_pool_nulls_h(spark, tmp_path):
    # every quantity identical → a single pooled level → every rank2 =
    # nn+1 → s_den = 0 → h_e6 and reject_05 NULL on both sides
    rows = _run(
        spark, tmp_path, "q_lineitem_kruskal_wallis",
        {"lineitem": _lineitem([(5.0, "F", "A", 0.0), (5.0, "O", "N", 0.0),
                                (5.0, "F", "R", 0.0), (5.0, "O", "A", 0.0)])},
    )
    assert len(rows) == 1
    assert rows[0]["h_e6"] is None and rows[0]["reject_05"] is None
