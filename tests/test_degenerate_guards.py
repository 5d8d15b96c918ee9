"""Drive the degenerate-division guards on BOTH engines: Spark's
non-ANSI DIV yields NULL where DuckDB's // raises — the guards exist so
both sides emit NULL deliberately, and this module is the only place the
branches actually fire.

A synthetic corpus directory is assembled per test: the table under
test is replaced by a crafted degenerate parquet (single linestatus
group, all-tied quantities, single-token language) and every other
table symlinks to sf0.001 so
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


def test_simpson_single_token_lang_nulls_lambda(spark, tmp_path):
    # lang 'xx' has ONE token total → N = 1 → simpson_e6 NULL while
    # top_share_bp still reports 10000 (mixed null/non-null row)
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["solo", "two tokens here two"], pa.string()),
            "lang": pa.array(["xx", "en"], pa.string()),
            "source": pa.array(["s", "s"], pa.string()),
            "n_chars": pa.array([4, 19], pa.int64()),
        }
    )
    rows = _run(
        spark, tmp_path, "docs_simpson_diversity", {"documents": docs}
    )
    by_lang = {r["lang"]: r for r in rows}
    assert by_lang["xx"]["simpson_e6"] is None
    assert by_lang["xx"]["top_share_bp"] == 10000
    # the en slice is healthy: 4 tokens, 'two' twice → pairs=2, λ·1e6
    assert by_lang["en"]["simpson_e6"] == 2 * 1000000 // (4 * 3)


def test_zipf_slope_single_bucket_spectrum_nulls_slope(spark, tmp_path):
    # every word occurs exactly once → one spectrum point → D = 0 →
    # slope NULL on both sides (the ≤1-distinct-x guard)
    docs = pa.table(
        {
            "doc_id": pa.array([1], pa.int64()),
            "text": pa.array(["alpha beta gamma"], pa.string()),
            "lang": pa.array(["en"], pa.string()),
            "source": pa.array(["s"], pa.string()),
            "n_chars": pa.array([16], pa.int64()),
        }
    )
    rows = _run(spark, tmp_path, "docs_zipf_slope", {"documents": docs})
    assert len(rows) == 1
    assert rows[0]["n_points"] == 1
    assert rows[0]["slope_e6_signed"] is None


def test_source_drift_empty_documents_one_null_row(spark, tmp_path):
    # empty corpus: margins empty → the global aggregate emits one row
    # with NULL n_docs / chi2_e6 / reject_05 on BOTH sides
    docs = pa.table(
        {
            "doc_id": pa.array([], pa.int64()),
            "text": pa.array([], pa.string()),
            "lang": pa.array([], pa.string()),
            "source": pa.array([], pa.string()),
            "n_chars": pa.array([], pa.int64()),
        }
    )
    rows = _run(spark, tmp_path, "docs_source_drift_chi2", {"documents": docs})
    assert len(rows) == 1
    assert rows[0]["chi2_e6"] is None and rows[0]["reject_05"] is None
    assert (rows[0]["n_sources"], rows[0]["n_langs"]) == (0, 0)


def test_source_drift_single_source_zero_chi2(spark, tmp_path):
    # one source → every cell equals its lang margin → every d = 0 →
    # chi2 exactly 0 (not NULL); df = 0 ≠ 76 → reject_05 NULL
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array(["a", "b", "c"], pa.string()),
            "lang": pa.array(["en", "fr", "en"], pa.string()),
            "source": pa.array(["s0", "s0", "s0"], pa.string()),
            "n_chars": pa.array([1, 1, 1], pa.int64()),
        }
    )
    rows = _run(spark, tmp_path, "docs_source_drift_chi2", {"documents": docs})
    assert len(rows) == 1
    assert rows[0]["chi2_e6"] == 0 and rows[0]["reject_05"] is None


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


def _docs(rows) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["s"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )


def test_hapax_empty_corpus_one_zeros_row(spark, tmp_path):
    # empty corpus → the global-agg device emits exactly ONE row of
    # zero counts with NULL ratios on BOTH engines (a groupBy would
    # emit zero rows and silently diverge from the oracle's agg)
    rows = _run(spark, tmp_path, "docs_hapax_legomena", {"documents": _docs([])})
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (0, 0, 0)
    assert r["ttr_bp"] is None and r["hapax_share_bp"] is None


def test_hapax_all_hapax_corpus(spark, tmp_path):
    # every token unique → n_hapax = n_types = n_tokens → both ratios
    # exactly 10000 (the division grid's upper edge, no rounding)
    rows = _run(
        spark, tmp_path, "docs_hapax_legomena",
        {"documents": _docs([(1, "alpha beta"), (2, "gamma delta")])},
    )
    r = rows[0]
    assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (4, 4, 4)
    assert r["ttr_bp"] == 10000 and r["hapax_share_bp"] == 10000


def test_code_detect_empty_text_null_sym_bp(spark, tmp_path):
    # empty text: n_chars = 0 → sym_bp NULL on BOTH sides (Spark DIV
    # NULL vs DuckDB // error is the divergence class the CASE guard
    # exists for); n_lines = 1 → indent_bp = 0 → looks_code false via
    # the coalesce fuse
    rows = _run(
        spark, tmp_path, "docs_code_detect", {"documents": _docs([(1, "")])},
    )
    r = rows[0]
    assert r["n_lines"] == 1 and r["sym_bp"] is None
    assert r["indent_bp"] == 0 and r["looks_code"] is False


def test_code_detect_codey_text_trips_both_axes(spark, tmp_path):
    # a genuinely code-shaped doc crosses BOTH thresholds: symbol
    # density > 3 % and indented-line share > 20 %
    code = "def f(x):\n  return {x: (x + 1)};\n  # comment\nz = f(2)"
    rows = _run(
        spark, tmp_path, "docs_code_detect", {"documents": _docs([(7, code)])},
    )
    r = rows[0]
    assert r["sym_bp"] >= 300 and r["indent_bp"] >= 2000
    assert r["looks_code"] is True


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


def test_ari_no_sentence_marker_unmeasurable(spark, tmp_path):
    # no '.' anywhere → S = 0 → the guarded division yields NULL +
    # 'unmeasurable' on BOTH sides; empty text is the same branch
    # (W = 1 by the split-on-space device, S = 0)
    rows = _run(
        spark, tmp_path, "docs_ari_readability",
        {"documents": _docs([(1, "no terminal punctuation here"), (2, "")])},
    )
    by = {r["doc_id"]: r for r in rows}
    assert by[1]["ari_centi"] is None and by[1]["band"] == "unmeasurable"
    assert by[2]["n_words"] == 1 and by[2]["n_chars_ns"] == 0
    assert by[2]["ari_centi"] is None and by[2]["band"] == "unmeasurable"


def test_ari_single_word_sentence_floor(spark, tmp_path):
    # "ok." → C = 3, W = 1, S = 1 → shifted = 471·3 + 50 = 1463 →
    # grade −680 centi (negative grades are legal output; only the
    # DIVISION had to stay positive — the algebraic-shift device)
    rows = _run(
        spark, tmp_path, "docs_ari_readability",
        {"documents": _docs([(5, "ok.")])},
    )
    r = rows[0]
    assert (r["n_chars_ns"], r["n_words"], r["n_sentences"]) == (3, 1, 1)
    assert r["ari_centi"] == (471 * 3 * 1 + 50 * 1) // 1 - 2143
    assert r["band"] == "elementary"


def test_code_mix_empty_corpus_zero_rows(spark, tmp_path):
    rows = _run(spark, tmp_path, "docs_code_mix", {"documents": _docs([])})
    assert rows == []


def test_code_mix_all_code_lang_share_10000(spark, tmp_path):
    # a lang whose only doc classifies as code reports share 10000 —
    # the division grid's upper edge, no rounding
    code = "def f(x):\n  return {x: (x + 1)};\n  # c\nz = f(2)"
    rows = _run(
        spark, tmp_path, "docs_code_mix",
        {"documents": _docs([(1, code), (2, "plain prose text")])},
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_docs"], r["n_code"], r["code_share_bp"]) == (2, 1, 5000)
