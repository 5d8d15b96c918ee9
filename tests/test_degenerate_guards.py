"""Drive the degenerate-division guards on BOTH engines: Spark's
non-ANSI DIV yields NULL where DuckDB's // raises — the guards exist so
both sides emit NULL deliberately, and this module is the only place the
branches actually fire.

A synthetic corpus directory is assembled per test: the table under
test is replaced by a crafted degenerate parquet (single linestatus
group, all-tied quantities, identical or empty embeddings) and every
other table symlinks to sf0.001 so
``parity.duckdb_con`` can still bind all ten views. Each test then runs
the EXACT driver compare — not just the Spark side — and additionally
asserts the guarded column is genuinely NULL (a compare that passed
with non-NULL values would prove nothing about the branch)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from steampipe_plugin_terraform_spark.catalog import (
    ORACLES,
    QUERIES,
    STAGED_ORACLES,
    STAGED_QUERIES,
)

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


def _entry(name):
    fn = STAGED_QUERIES.get(name) or QUERIES[name]
    sql = STAGED_ORACLES.get(name) or ORACLES[name]
    return fn, sql


def _run(spark, tmp_path, name, overrides):
    sf = _corpus(tmp_path, overrides)
    fn, sql = _entry(name)
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


def _embeddings(vectors) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(range(1, len(vectors) + 1), pa.int64()),
            "embedding": pa.array(vectors, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vectors), pa.int32()),
        }
    )


def test_cov_top_eigen_identical_vectors_null_eigen(spark, tmp_path):
    # all vectors identical → M = N·Σqqᵀ − ssᵀ = 0 → every power step
    # is 0 → den = 0 → top_eigen_e6 / top_energy_bp NULL on both sides
    # while trace_e6 reports exactly 0
    v = [0.25] * 64
    rows = _run(
        spark, tmp_path, "emb_cov_top_eigen",
        {"embeddings": _embeddings([v, v, v])},
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["n_vecs"] == 3 and r["trace_e6"] == 0
    assert r["top_eigen_e6"] is None and r["top_energy_bp"] is None


def test_cov_top_eigen_empty_embeddings_null_row(spark, tmp_path):
    rows = _run(
        spark, tmp_path, "emb_cov_top_eigen", {"embeddings": _embeddings([])},
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["n_vecs"] == 0 and r["top_eigen_e6"] is None


def test_sign_bit_balance_empty_corpus_zero_rows(spark, tmp_path):
    # no vectors → no (dim, vector) pairs → ZERO rows on both engines
    # (the grouped shape's empty contract, unlike the global-agg
    # entries' one-NULL-row contract — documented, not accidental)
    rows = _run(
        spark, tmp_path, "emb_sign_bit_balance", {"embeddings": _embeddings([])},
    )
    assert rows == []


def test_sign_bit_balance_constant_sign_extremes(spark, tmp_path):
    # an all-positive dimension reports share 10000 / balanced false;
    # an all-non-positive one reports 0 / false — the saturated-dim
    # signal the screen exists to flag (0.0 > 0 is FALSE: zeros count
    # as non-positive on both engines)
    v1 = [1.0] * 32 + [-1.0] * 16 + [0.0] * 16
    rows = _run(
        spark, tmp_path, "emb_sign_bit_balance",
        {"embeddings": _embeddings([v1, v1, v1])},
    )
    by = {r["dim"]: r for r in rows}
    assert by[1]["pos_share_bp"] == 10000 and by[1]["balanced"] is False
    assert by[33]["pos_share_bp"] == 0 and by[33]["balanced"] is False
    assert by[49]["pos_share_bp"] == 0 and by[49]["balanced"] is False


def test_norm_buckets_zero_vector_bucket_zero(spark, tmp_path):
    # the all-zeros vector has norm² = 0, which the bin-length device
    # maps to bucket 0 (bin(0) = '0' → length 1) — covered, not
    # dropped; with every vector zero the single bucket carries the
    # whole corpus at share 10000
    rows = _run(
        spark, tmp_path, "emb_norm_buckets",
        {"embeddings": _embeddings([[0.0] * 64, [0.0] * 64])},
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r["bucket"], r["n_vecs"]) == (0, 2)
    assert (r["min_norm2"], r["max_norm2"]) == (0, 0)
    assert r["share_bp"] == 10000


def test_norm_buckets_empty_corpus_zero_rows(spark, tmp_path):
    # no vectors → zero rows on both engines (the grouped shape's
    # empty contract; DuckDB's NULL list_sum on empty lists never
    # fires because there are no rows at all)
    rows = _run(spark, tmp_path, "emb_norm_buckets", {"embeddings": _embeddings([])})
    assert rows == []
