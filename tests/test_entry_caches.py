"""Session state behind catalog entries (``state.py``).

State is built ONCE per (session, corpus) and repeat invocations reuse it;
it is per-corpus, so a handle created for one corpus keeps reading that
corpus after the entry runs for another sf_dir; it is readable
(``state.stats``), clearable (``state.clear``) and never held in Spark's
cache manager.
"""

import glob
import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import DataFrame

from steampipe_plugin_terraform_spark import catalog, state
from steampipe_plugin_terraform_spark.catalog import QUERIES, STAGED_QUERIES
from steampipe_plugin_terraform_spark.operators import dedup, similarity, storage, text

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _entry(name):
    return QUERIES.get(name) or STAGED_QUERIES[name]


def _counting(monkeypatch, module, fn):
    calls = []
    real = getattr(module, fn)
    monkeypatch.setattr(module, fn, lambda *a, **k: (calls.append(1), real(*a, **k))[1])
    return calls


# (entry, kind, patched module, builder function, builder calls per build)
BUILT_ONCE = [
    ("emb_ivf_store_topk", "ivf_store", similarity, "ivf_save", 1),
    ("q_bucketed_cokey_join", "bucketed_tables", storage, "write_bucketed", 2),
    ("emb_pq_topk", "pq", similarity, "pq_codebooks_encode", 1),
    ("q_zorder_pruned_scan", "zorder_store", storage, "write_zordered", 1),
    ("q_partition_pruned_join", "partitioned_store", storage, "write_partitioned", 1),
    ("dedup_golden_record", "cluster_map", dedup, "minhash_lsh_pairs", 1),
    ("emb_two_level_topk", "two_level", similarity, "kmeans_two_level", 1),
    ("emb_ivf_incremental_topk", "ivf_incr_base", similarity, "kmeans_lloyd", 1),
    ("docs_perplexity_buckets", "ppl_scores", text, "bigram_logprob", 1),
    ("emb_ivf_compaction", "ivf_compact", similarity, "ivf_save", 1),
    ("dedup_incremental_batch", "lsh_store", state, "temp_root", 1),
]
# other entries that must serve from the same state without building it
SHARED_WITH = {"cluster_map": ("dedup_clusters", "docs_curation_pipeline")}


@pytest.mark.parametrize(
    "entry, kind, module, fn, per_build", BUILT_ONCE, ids=[c[0] for c in BUILT_ONCE]
)
def test_state_built_once_and_reused(spark, monkeypatch, entry, kind, module, fn, per_build):
    run = _entry(entry)
    run(spark, SF_A)  # every other kind the entry reads is built outside the count
    state.clear(spark, kind)
    calls = _counting(monkeypatch, module, fn)
    first = _rows(run(spark, SF_A))
    assert len(calls) == per_build, "the first invocation builds"
    second = _rows(run(spark, SF_A))
    assert len(calls) == per_build, "a repeat invocation must reuse, never rebuild"
    for other in SHARED_WITH.get(kind, ()):
        _entry(other)(spark, SF_A).count()
    assert len(calls) == per_build, "sibling entries must reuse, never rebuild"
    kind_stats = state.stats(spark)[kind]
    assert kind_stats["builds"] == 1 and kind_stats["hits"] >= 1
    assert first and first == second


def test_bucketed_handle_survives_other_corpus_invocation(spark):
    """A lazy handle for corpus A, executed AFTER the entry ran for corpus
    B, must still return corpus A's data."""
    handle_a = QUERIES["q_bucketed_cokey_join"](spark, SF_A)
    expected_a = _rows(QUERIES["q_bucketed_cokey_join"](spark, SF_A))
    QUERIES["q_bucketed_cokey_join"](spark, SF_B).collect()
    assert _rows(handle_a) == expected_a
    # and the two corpora genuinely landed in distinct tables
    digs = {state.corpus_digest(SF_A), state.corpus_digest(SF_B)}
    assert len(digs) == 2
    tables = {t.name for t in spark.catalog.listTables("tf_bucketed")}
    for d in digs:
        assert f"orders_b_{d}" in tables and f"lineitem_b_{d}" in tables


def test_partitioned_handle_survives_other_corpus_invocation(spark, monkeypatch):
    """Running the entry for corpus B builds B its own store and must not
    redirect the still-lazy corpus-A handle."""
    state.clear(spark, "partitioned_store")
    handle_a = QUERIES["q_partition_pruned_join"](spark, SF_A)
    expected_a = _rows(QUERIES["q_partition_pruned_join"](spark, SF_A))
    writes = _counting(monkeypatch, storage, "write_partitioned")
    QUERIES["q_partition_pruned_join"](spark, SF_B).collect()
    assert len(writes) == 1, "a second corpus gets its own store"
    assert _rows(handle_a) == expected_a


def test_foreachbatch_restart_is_noop(spark, monkeypatch):
    """Restarting an availableNow drain on the same checkpoint must not
    rewrite its sink (committed offsets → no new batches) and must return
    identical rows — the exactly-once restart contract."""
    state.clear(spark, "febatch_sink")
    roots, temp_root = [], state.temp_root
    monkeypatch.setattr(state, "temp_root", lambda prefix: roots.append(temp_root(prefix)) or roots[-1])
    run = QUERIES["stream_foreachbatch_sink"]
    first = _rows(run(spark, SF_A))
    assert len(roots) == 1, "the first drain must build its sink"
    pattern = f"{roots[0]}/**/batch_id=*/*.parquet"
    files = sorted(glob.glob(pattern, recursive=True))
    assert files, "the first drain must write to the sink"
    mtimes = {f: os.path.getmtime(f) for f in files}
    assert _rows(run(spark, SF_A)) == first
    assert len(roots) == 1, "restart must reuse the sink"
    assert sorted(glob.glob(pattern, recursive=True)) == files, "restart must not add files"
    assert all(os.path.getmtime(f) == mtimes[f] for f in files), "restart must not rewrite"


def test_table_reads_are_plan_cached_never_data_cached(spark):
    """catalog._t caches the prepared scan DataFrame per (corpus, table):
    repeat invocations reuse the resolved file listing + footer schema,
    but the plan stays unpersisted — every execution re-reads the bytes."""
    a = catalog._t(spark, SF_A, "lineitem")
    b = catalog._t(spark, SF_A, "lineitem")
    assert a is b, "repeat _t calls must hit the session plan cache"
    lvl = a.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "cached plan must not persist data"
    # distinct corpora never share a cache slot
    c = catalog._t(spark, SF_B, "lineitem")
    assert c is not a


def test_minhash_posting_base_one_checkpoint_per_corpus(spark):
    """The posting checkpoint behind the minhash family is one RDD per
    corpus per session, shared by repeat invocations and sibling entries."""
    state.clear(spark, "minhash_base")
    docs = catalog._t(spark, SF_A, "documents")
    a = dedup._minhash_posting_base(docs, "doc_id", "text", 5)
    b = dedup._minhash_posting_base(docs, "doc_id", "text", 5)
    assert a is b, "repeat base builds must hit the session cache"
    assert state.stats(spark)["minhash_base"] == {"entries": 1, "builds": 1, "hits": 1}
    # a different corpus gets its own slot, never a shared one
    other = catalog._t(spark, SF_B, "documents")
    c = dedup._minhash_posting_base(other, "doc_id", "text", 5)
    assert c is not a and state.stats(spark)["minhash_base"]["entries"] == 2


def test_clear_drops_session_state_and_rebuilds(spark, monkeypatch):
    QUERIES["q_zorder_pruned_scan"](spark, SF_A)
    assert "zorder_store" in state.stats(spark)
    state.clear(spark)
    assert state.stats(spark) == {}
    writes = _counting(monkeypatch, storage, "write_zordered")
    QUERIES["q_zorder_pruned_scan"](spark, SF_A).collect()
    assert writes == [1], "the call after a clear rebuilds"
    assert state.stats(spark)["zorder_store"] == {"entries": 1, "builds": 1, "hits": 0}


def test_failed_build_stores_nothing(spark):
    def fail():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        state.get(spark, "probe", SF_A, fail)
    assert "probe" not in state.stats(spark)
    assert state.get(spark, "probe", SF_A, lambda: 42) == 42, "the next call builds"
    state.clear(spark, "probe")


def _frames(value):
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)


def test_registry_holds_nothing_in_the_cache_manager(spark):
    """After every state-using entry has run, no DataFrame the registry
    holds is persisted: checkpoints and plans only, so no entry's plan can
    be rewritten by another entry's cached subtree."""
    state_entries = [c[0] for c in BUILT_ONCE] + [
        "emb_ivf_pq_topk",
        "emb_cluster_balanced_sample",
        "emb_centroid_drift",
        "dedup_minhash_lsh",
        "stream_foreachbatch_sink",
    ]
    for name in state_entries:
        _entry(name)(spark, SF_A)
    app = spark.sparkContext.applicationId
    held = [df for (a, _, _), v in state._ENTRIES.items() if a == app for df in _frames(v)]
    kinds = {k for (a, k, _), v in state._ENTRIES.items() if a == app and any(_frames(v))}
    assert {"table", "kmeans", "pq", "cluster_map", "ppl_scores", "minhash_base"} <= kinds
    for df in held:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), lvl


def test_temp_root_removed_at_interpreter_exit():
    code = (
        "import os; from steampipe_plugin_terraform_spark import state; "
        "root = state.temp_root('tf_state_test_'); "
        "open(os.path.join(root, 'f'), 'w').write('x'); "
        "print(root, os.path.isfile(os.path.join(root, 'f')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
        cwd=pathlib.Path(__file__).resolve().parents[1],
    ).stdout.split()
    assert out[1] == "True", "the directory existed while the process ran"
    assert not os.path.exists(out[0]), "the directory is removed at exit"
