"""Property tests for pack_greedy: invariants that must hold for ANY corpus.

- no sequence exceeds the budget unless it is a single oversized document
- within a (group, shard) stream, seq_id is non-decreasing in order_col and
  starts at 0 with no gaps
- every input row appears exactly once
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from steampipe_plugin_terraform_spark.operators import pack

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),  # doc_id (dupes allowed -> distinct later)
        st.sampled_from(["en", "de", "fr"]),
        st.integers(min_value=1, max_value=40),  # weight
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@given(rows=rows_strategy, budget=st.integers(min_value=5, max_value=64))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_invariants(spark, rows, budget):
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tok long")
    out = pack.pack_greedy(df, budget=budget, weight_col="n_tok", shards=2).collect()

    assert len(out) == len(rows)
    assert {r["doc_id"] for r in out} == {t[0] for t in rows}

    by_stream: dict = {}
    for r in out:
        by_stream.setdefault((r["lang"], r["shard"]), []).append(r)
    for stream in by_stream.values():
        stream.sort(key=lambda r: r["doc_id"])
        seqs = [r["seq_id"] for r in stream]
        assert seqs[0] == 0
        for a, b in zip(seqs, seqs[1:]):
            assert b in (a, a + 1)  # non-decreasing, gapless
        totals: dict = {}
        for r in stream:
            totals[r["seq_id"]] = totals.get(r["seq_id"], 0) + r["weight"]
        for seq, tot in totals.items():
            members = [r for r in stream if r["seq_id"] == seq]
            assert tot <= budget or len(members) == 1
        # greedy: a doc never starts a new sequence if it would have fit
        for a, b in zip(stream, stream[1:]):
            if b["seq_id"] == a["seq_id"] + 1:
                assert totals[a["seq_id"]] + b["weight"] > budget



def test_pack_selects_columns_in_caller_order_under_any_hash_seed():
    """The selected columns, and so the plan, keep the caller's order under
    any PYTHONHASHSEED. pack_greedy runs on a stub recording select()."""
    import json, os, subprocess, sys  # noqa: E401

    probe = (
        "import json, types\n"
        "from steampipe_plugin_terraform_spark.operators import pack\n"
        "class Stub:\n"
        "    __getattr__ = lambda self, name: lambda *a, **k: self\n"
        "    __mod__ = lambda self, other: self\n"
        "    select = lambda self, *cols: print(json.dumps(cols)) or self\n"
        "pack.F = types.SimpleNamespace(col=lambda c: Stub(), lit=lambda v: Stub())\n"
        "pack.pack_greedy(Stub(), budget=256, weight_col='n_tok', group_col='lang', shards=4)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for seed in range(8):
        env = {**os.environ, "PYTHONHASHSEED": str(seed), "PYTHONPATH": root}
        out = subprocess.run([sys.executable, "-c", probe], env=env, capture_output=True,
                             text=True, check=True).stdout
        assert json.loads(out) == ["doc_id", "lang", "n_tok"], f"PYTHONHASHSEED={seed}"
