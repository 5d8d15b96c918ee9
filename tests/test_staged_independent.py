"""Independent (non-oracle) checks for the r12/r13 staged waves — the
r9 verdict's hardening item: every staged entry gets at least one check
that does NOT share machinery with its DuckDB oracle. Three kinds here:

- pure-Python references (chi2, BPE pairs, streaming top-k closure):
  the statistic recomputed from the parquet with Python ints /
  collections.Counter — no Spark expressions, no SQL, exact arithmetic;
- internal-consistency properties (minhash estimate error, centroid
  drift, PQ recall): relations between output columns that must hold by
  construction, recomputed in Python from the entry's own rows;
- engine identities (stream_bitmap_distinct ≡ the batch operator).

All run at sf0.001 where a full pure-Python replay is cheap.
"""

import collections
import math

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from steampipe_plugin_terraform_spark.catalog import QUERIES, STAGED_QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _staged(spark, name):
    # Entries keep their independent scanner check after promotion —
    # resolve from the staging registry first, then the main catalog.
    fn = STAGED_QUERIES.get(name) or QUERIES[name]
    return fn(spark, SF_DIR)


def test_chi2_pure_python_reference(spark):
    """q_lineitem_flag_status_chi2 vs a from-scratch Python-int replay:
    arbitrary-precision ints make the multiplied-out floor divisions
    exact by construction, so any mismatch is a Spark-side DECIMAL or
    windowing bug, not a reference artifact."""
    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_returnflag", "l_linestatus"]
    )
    cells = collections.Counter(
        zip(t["l_returnflag"].to_pylist(), t["l_linestatus"].to_pylist())
    )
    r_tot = collections.Counter()
    c_tot = collections.Counter()
    for (rf, ls), n in cells.items():
        r_tot[rf] += n
        c_tot[ls] += n
    n_tot = sum(cells.values())
    expected = {}
    for (rf, ls), obs in cells.items():
        diff = obs * n_tot - r_tot[rf] * c_tot[ls]
        expected[(rf, ls)] = (
            obs,
            r_tot[rf] * c_tot[ls] * 100 // n_tot,
            diff * diff * 1_000_000 // (r_tot[rf] * c_tot[ls] * n_tot),
        )
    got = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["observed"],
            r["expected_e2"],
            r["contrib_e6"],
        )
        for r in _staged(spark, "q_lineitem_flag_status_chi2").collect()
    }
    assert got == expected


def test_bpe_merge_pairs_pure_python_reference(spark):
    """docs_bpe_merge_pairs vs a Counter-based replay of the BPE
    first-merge statistic (word freq table -> adjacent char pairs
    weighted by frequency -> top-20 under (cnt DESC, pair))."""
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
    words = collections.Counter()
    for text in t["text"].to_pylist():
        for w in text.split(" "):
            if len(w) >= 2 and w.isascii() and w.isalpha():
                words[w] += 1
    pairs = collections.Counter()
    for w, n in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += n
    expected = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["pair"], r["cnt"])
        for r in _staged(spark, "docs_bpe_merge_pairs").collect()
    ]
    assert got == expected


def test_stream_hourly_topk_pure_python_reference(spark):
    """stream_hourly_topk_types vs a Python replay of the append-mode
    closure (final watermark = max(ts) - 2h; a window ranks iff its end
    <= watermark) and the (n DESC, type) row_number — checks the
    STREAMING drain end-to-end against arithmetic, not against another
    Spark plan."""
    import pandas as pd

    df = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["ts", "event_type"]
    ).to_pandas()
    # .dt.floor handles nanosecond-precision parquet timestamps, which
    # datetime.replace would silently leave un-truncated
    hours = df["ts"].dt.floor("h")
    watermark = df["ts"].max() - pd.Timedelta(hours=2)
    counts = collections.Counter()
    for hour, et in zip(hours, df["event_type"]):
        if hour + pd.Timedelta(hours=1) <= watermark:
            counts[(hour.to_pydatetime(), et)] += 1
    by_hour = collections.defaultdict(list)
    for (hour, et), n in counts.items():
        by_hour[hour].append((et, n))
    expected = set()
    for hour, rows in by_hour.items():
        rows.sort(key=lambda r: (-r[1], r[0]))
        for rnk, (et, n) in enumerate(rows[:3], start=1):
            expected.add((hour, et, n, rnk))
    got = {
        (
            r["hour"].replace(tzinfo=None),
            r["event_type"],
            r["n"],
            r["rnk"],
        )
        for r in _staged(spark, "stream_hourly_topk_types").collect()
    }
    assert got == expected


def test_minhash_estimate_error_internal_consistency(spark):
    """docs_minhash_estimate_error: with 8 signature components the
    estimate is quantized to multiples of 1250; the error column must
    equal |est - exact| row by row; exact Jaccard stays in [0, 10000].
    All recomputed from the entry's own rows with Python ints."""
    rows = _staged(spark, "docs_minhash_estimate_error").collect()
    assert rows, "LSH banding produced no candidate pairs at sf0.001"
    for r in rows:
        assert r["est_x1e4"] % 1250 == 0 and 0 <= r["est_x1e4"] <= 10000
        assert 0 <= r["jaccard_x1e4"] <= 10000
        assert r["err_x1e4"] == abs(r["est_x1e4"] - r["jaccard_x1e4"])
        assert r["id_a"] < r["id_b"]


def test_pq_recall_granularity_and_bounds(spark):
    """emb_pq_recall: the ground-truth side is 10 queries x top-5 = 50
    pairs, so recall_x1e4 = hits * 10000 // 50 is an exact multiple of
    200 in [0, 10000], and at most 10 queries can have hits."""
    row = _staged(spark, "emb_pq_recall").collect()
    assert len(row) == 1
    r = row[0]
    assert 0 <= r["recall_x1e4"] <= 10000 and r["recall_x1e4"] % 200 == 0
    assert 0 <= r["n_queries_with_hits"] <= 10


def test_stream_bitmap_distinct_equals_batch_operator(spark):
    """stream_bitmap_distinct (micro-batch OR-merge drain) must land on
    exactly what the batch operator computes over the same events — the
    mergeability identity, checked engine-side rather than via the
    COUNT(DISTINCT) oracle."""
    from steampipe_plugin_terraform_spark.operators import sketch

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "user_id"
    )
    batch = {
        r["event_type"]: r["n_distinct"]
        for r in sketch.bitmap_distinct(ev, ["event_type"], "user_id").collect()
    }
    streamed = _staged(spark, "stream_bitmap_distinct").collect()
    assert {r["event_type"]: r["n_users"] for r in streamed} == batch
    # n_words is the bounded-state claim: ceil-ish word count per type,
    # never more than distinct users
    for r in streamed:
        assert 0 < r["n_words"] <= r["n_users"]


def test_centroid_drift_internal_consistency(spark):
    """emb_centroid_drift: shares must be floor(n * 10000 / total) of
    the entry's own population columns, drift = |share diff|, and both
    populations must sum to the slice totals (every vector lands in
    exactly one bucket; empty buckets emitted as zeros)."""
    rows = _staged(spark, "emb_centroid_drift").collect()
    n_ref_tot = sum(r["n_ref"] for r in rows)
    n_cur_tot = sum(r["n_cur"] for r in rows)
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id"])
    ids = [v for v in emb["vec_id"].to_pylist() if v >= 10]
    assert n_ref_tot == sum(1 for v in ids if v % 2 == 0)
    assert n_cur_tot == sum(1 for v in ids if v % 2 == 1)
    for r in rows:
        assert r["share_ref_x1e4"] == r["n_ref"] * 10000 // n_ref_tot
        assert r["share_cur_x1e4"] == r["n_cur"] * 10000 // n_cur_tot
        assert r["drift_x1e4"] == abs(
            r["share_cur_x1e4"] - r["share_ref_x1e4"]
        )


def test_state_lineage_pure_python_reference(spark):
    """tf_state_lineage_audit vs a stdlib-json replay: every header
    field and the per-lineage max-serial status recomputed with
    json.load + a dict — no Spark JSON reader, no window function, no
    SQL. A mismatch means the explicit read schema or the window
    semantics drifted, not a fixture artifact."""
    import json
    import pathlib

    fix = (
        pathlib.Path(__file__).resolve().parent / "fixtures" / "statelineage"
    )
    want = {}
    max_serial: dict[str, int] = {}
    for p in sorted(fix.glob("*.tfstate")):
        doc = json.loads(p.read_text())
        want[p.name] = (
            doc["lineage"],
            doc["serial"],
            doc["terraform_version"],
            len(doc.get("resources") or []),
        )
        max_serial[doc["lineage"]] = max(
            max_serial.get(doc["lineage"], -1), doc["serial"]
        )
    got = _staged(spark, "tf_state_lineage_audit").collect()
    assert len(got) == len(want)
    for r in got:
        lineage, serial, ver, n_res = want[r["file"]]
        assert (r["lineage"], r["serial"], r["terraform_version"]) == (
            lineage,
            serial,
            ver,
        )
        assert r["n_resources"] == n_res
        expect_status = (
            "current" if serial == max_serial[lineage] else "stale"
        )
        assert r["status"] == expect_status


def test_required_providers_pure_python_reference(spark):
    """tf_required_providers_audit vs a crude line-scanner over the
    fixture corpus — independent of BOTH the repo's recursive-descent
    HCL parser and the golden-row oracle. The scanner only understands
    the fixture's pinned shapes (top-level terraform blocks,
    required_version, required_providers entries in block and legacy
    string form); it exists to catch the parser or the JSON-extraction
    chain silently changing what those shapes yield."""
    import pathlib
    import re

    fix = pathlib.Path(__file__).resolve().parent / "fixtures" / "settings"
    want = set()
    for p in sorted(fix.glob("*.tf")):
        text = p.read_text()
        m = re.search(r"(?m)^terraform\s*\{", text)
        if not m:
            continue
        req = re.search(r'(?m)^\s*required_version\s*=\s*"([^"]*)"', text)
        want.add(
            (
                p.name,
                "core",
                "terraform",
                None,
                req.group(1) if req else None,
            )
        )
        rp = re.search(
            r"required_providers\s*\{(.*)\n\s*\}", text, flags=re.S
        )
        if rp:
            body = rp.group(1)
            for name, constraint in re.findall(
                r'(?m)^\s*(\w+)\s*=\s*"([^"]*)"', body
            ):
                if name in ("source", "version"):
                    continue  # keys inside a block-form entry
                want.add((p.name, "provider", name, None, constraint))
            for name, blk in re.findall(
                r"(?m)^\s*(\w+)\s*=\s*\{([^}]*)\}", body, flags=re.S
            ):
                src = re.search(r'source\s*=\s*"([^"]*)"', blk)
                ver = re.search(r'version\s*=\s*"([^"]*)"', blk)
                want.add(
                    (
                        p.name,
                        "provider",
                        name,
                        src.group(1) if src else None,
                        ver.group(1) if ver else None,
                    )
                )
    got = {
        (
            r["file"],
            r["kind"],
            r["name"],
            r["source_addr"],
            r["version_constraint"],
        )
        for r in _staged(spark, "tf_required_providers_audit").collect()
    }
    assert got == want
    for r in _staged(spark, "tf_required_providers_audit").collect():
        assert r["status"] == (
            "pinned" if r["version_constraint"] is not None else "unpinned"
        )


def test_backend_audit_pure_python_reference(spark):
    """tf_backend_audit vs a crude regex scanner over the fixture
    corpus — independent of the HCL parser, the JSON encoding, and the
    golden-row oracle. Understands only the corpus's pinned shapes:
    top-level terraform blocks, one labeled backend block, a cloud
    block, the encrypt/bucket/organization attributes."""
    import pathlib
    import re

    fix = pathlib.Path(__file__).resolve().parent / "fixtures" / "backend"
    want = set()
    for p in sorted(fix.glob("*.tf")):
        text = p.read_text()
        if not re.search(r"(?m)^terraform\s*\{", text):
            continue
        bk = re.search(r'backend\s*"(\w+)"\s*\{([^}]*)\}', text, flags=re.S)
        if bk:
            btype, body = bk.group(1), bk.group(2)
            enc = None
            if btype == "s3":
                m = re.search(r"encrypt\s*=\s*(true|false)", body)
                enc = bool(m and m.group(1) == "true")
            loc = re.search(r'bucket\s*=\s*"([^"]*)"', body)
            want.add(
                (p.name, btype, True, enc, loc.group(1) if loc else None)
            )
        elif re.search(r"(?m)^\s*cloud\s*\{", text):
            org = re.search(r'organization\s*=\s*"([^"]*)"', text)
            want.add(
                (p.name, "cloud", True, None, org.group(1) if org else None)
            )
        else:
            want.add((p.name, "local", False, None, None))
    got = {
        (r["file"], r["backend_type"], r["remote"], r["encrypted"],
         r["location"])
        for r in _staged(spark, "tf_backend_audit").collect()
    }
    assert got == want


def test_provider_matrix_pure_python_reference(spark):
    """tf_provider_version_matrix vs a from-scratch Python replay of all
    three surfaces (required_providers scanner, provider-block regex,
    resource-type prefix counter) and the status rules."""
    import collections
    import pathlib
    import re

    fix = (
        pathlib.Path(__file__).resolve().parent / "fixtures" / "providermatrix"
    )
    declared: dict[str, set[str]] = {}
    configured: set[str] = set()
    used: collections.Counter = collections.Counter()
    for p in sorted(fix.glob("*.tf")):
        text = p.read_text()
        rp = re.search(
            r"required_providers\s*\{(.*)\n\s*\}", text, flags=re.S
        )
        if rp:
            body = rp.group(1)
            for name, constraint in re.findall(
                r'(?m)^\s*(\w+)\s*=\s*"([^"]*)"', body
            ):
                if name not in ("source", "version"):
                    declared.setdefault(name, set()).add(constraint)
            for name, blk in re.findall(
                r"(?m)^\s*(\w+)\s*=\s*\{([^}]*)\}", body, flags=re.S
            ):
                ver = re.search(r'version\s*=\s*"([^"]*)"', blk)
                decls = declared.setdefault(name, set())
                if ver:
                    decls.add(ver.group(1))
        for name in re.findall(r'(?m)^provider\s*"(\w+)"', text):
            configured.add(name)
        for rtype in re.findall(r'(?m)^resource\s*"(\w+)"', text):
            used[rtype.split("_", 1)[0]] += 1
    names = set(declared) | configured | set(used)
    want = set()
    for n in sorted(names):
        vc = ",".join(sorted(declared.get(n, set()))) or None
        conf = n in configured
        n_res = used.get(n, 0)
        if vc is not None and (conf or n_res > 0):
            status = "constrained_in_use"
        elif vc is not None:
            status = "unused_constraint"
        else:
            status = "unconstrained_in_use"
        want.add((n, vc, conf, n_res, status))
    got = {
        (r["name"], r["version_constraint"], r["configured"],
         r["n_resources"], r["status"])
        for r in _staged(spark, "tf_provider_version_matrix").collect()
    }
    assert got == want


def test_stream_state_serial_equals_batch(spark):
    """stream_state_serial_watch ≡ the same aggregation computed batch
    over stdlib-json-parsed headers: the streaming max/count state
    machine must converge to the batch answer (the engine-identity
    pattern, like stream_bitmap_distinct)."""
    import json
    import pathlib

    fix = (
        pathlib.Path(__file__).resolve().parent / "fixtures" / "statelineage"
    )
    latest: dict[str, int] = {}
    copies: dict[str, int] = {}
    for p in sorted(fix.glob("*.tfstate")):
        doc = json.loads(p.read_text())
        lin = doc["lineage"]
        latest[lin] = max(latest.get(lin, -1), doc["serial"])
        copies[lin] = copies.get(lin, 0) + 1
    got = {
        r["lineage"]: (r["latest_serial"], r["n_copies"])
        for r in _staged(spark, "stream_state_serial_watch").collect()
    }
    assert got == {
        lin: (latest[lin], copies[lin]) for lin in latest
    }


def test_cluster_quality_internal_consistency(spark):
    """emb_cluster_quality: mean <= max per cluster, crowding_bp is the
    integer division of the entry's own columns, populations sum to the
    corpus size, and separation is symmetric-positive (distinct
    centroids) — recomputed in Python from the entry's own rows."""
    rows = _staged(spark, "emb_cluster_quality").collect()
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id"])
    assert sum(r["n"] for r in rows) == emb.num_rows
    for r in rows:
        assert 0 <= r["mean_d2_e4"] <= r["max_d2_e4"]
        assert r["min_sep_e4"] is not None
        if r["min_sep_e4"] > 0:
            assert (
                r["crowding_bp"]
                == r["mean_d2_e4"] * 10000 // r["min_sep_e4"]
            )
        else:
            assert r["crowding_bp"] is None


def test_pipeline_funnel_matches_curation_survivors(spark):
    """docs_pipeline_funnel's last stage's n_out must equal
    docs_curation_pipeline's row count (gate semantics are identical by
    construction), the funnel must be monotone non-increasing, and each
    drop_bp must be the integer division of the row's own counters."""
    from steampipe_plugin_terraform_spark.catalog import QUERIES

    rows = {r["stage"]: r for r in _staged(spark, "docs_pipeline_funnel").collect()}
    assert set(rows) == {"lang_en", "quality_ge_05", "dedup_canonical"}
    assert rows["lang_en"]["n_out"] == rows["quality_ge_05"]["n_in"]
    assert rows["quality_ge_05"]["n_out"] == rows["dedup_canonical"]["n_in"]
    survivors = QUERIES["docs_curation_pipeline"](spark, SF_DIR).count()
    assert rows["dedup_canonical"]["n_out"] == survivors
    emb = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id"])
    assert rows["lang_en"]["n_in"] == emb.num_rows
    for r in rows.values():
        assert 0 <= r["n_out"] <= r["n_in"]
        assert r["n_dropped"] == r["n_in"] - r["n_out"]
        want_bp = (
            r["n_dropped"] * 10000 // r["n_in"] if r["n_in"] else 0
        )
        assert r["drop_bp"] == want_bp


def test_variable_hygiene_pure_python_reference(spark):
    """tf_variable_hygiene vs a crude regex scanner over the fixture
    corpus (block-body extraction by brace matching on the corpus's
    pinned one-level shapes) — independent of the HCL parser and the
    golden rows."""
    import pathlib
    import re

    fix = pathlib.Path(__file__).resolve().parent / "fixtures" / "varhygiene"
    want = set()
    for p in sorted(fix.glob("*.tf")):
        for name, body in re.findall(
            r'(?m)^variable\s*"(\w+)"\s*\{([^}]*(?:\{[^}]*\}[^}]*)*)\}',
            p.read_text(),
        ):
            has_type = bool(re.search(r"(?m)^\s*type\s*=", body))
            has_default = bool(re.search(r"(?m)^\s*default\s*=", body))
            has_desc = bool(re.search(r"(?m)^\s*description\s*=", body))
            sens = bool(re.search(r"(?m)^\s*sensitive\s*=\s*true", body))
            n_gaps = (not has_type) + (not has_desc)
            want.add(
                (p.name, name, has_type, has_default, has_desc, sens,
                 n_gaps, "clean" if n_gaps == 0 else "needs_attention")
            )
    got = {
        (r["file"], r["name"], r["has_type"], r["has_default"],
         r["has_description"], r["is_sensitive"], r["n_gaps"], r["status"])
        for r in _staged(spark, "tf_variable_hygiene").collect()
    }
    assert got == want


def test_perplexity_buckets_internal_consistency(spark):
    """docs_perplexity_buckets: bucket assignment must be monotone in
    nll_e4 (every head score <= every middle score <= every tail score),
    cover exactly the bigram-scored docs, and the head/middle cut must
    sit within ONE sketch bucket of the true 33rd-percentile value —
    the honest guarantee: the threshold is the LOWER BOUND of the
    m=8 log-bucket holding rank ceil(0.33·N), so lb <= true_q33 <
    lb + bucket_width (counts can deviate by the mass inside that one
    bucket; values cannot)."""
    from steampipe_plugin_terraform_spark.catalog import QUERIES

    rows = _staged(spark, "docs_perplexity_buckets").collect()
    scored = QUERIES["docs_bigram_logprob"](spark, SF_DIR).count()
    assert len(rows) == scored
    by = {"head": [], "middle": [], "tail": []}
    for r in rows:
        by[r["ppl_bucket"]].append(r["nll_e4"])
    assert by["head"], "head bucket empty"
    if by["middle"]:
        assert max(by["head"]) <= min(by["middle"])
    if by["tail"]:
        base = by["middle"] or by["head"]
        assert max(base) <= min(by["tail"])
    vs = sorted(r["nll_e4"] for r in rows)
    n = len(vs)
    true_q33 = vs[-(-33 * n // 100) - 1]
    t33 = max(by["head"])  # the cut the entry actually applied
    width = (
        1 if true_q33 < (1 << 8)
        else 1 << max(true_q33.bit_length() - 1 - 8, 0)
    )
    assert t33 <= true_q33 < t33 + 2 * width


def test_stream_funnel_equals_batch_funnel(spark):
    """stream_docs_pipeline_funnel ≡ docs_pipeline_funnel row-for-row:
    the streaming counter state machine must converge to the batch
    answer (the engine-identity pattern — both entries share gate
    semantics by construction, so any divergence is a streaming-state
    bug, not a semantics choice)."""
    batch = {
        r["stage"]: (r["n_in"], r["n_out"], r["n_dropped"], r["drop_bp"])
        for r in _staged(spark, "docs_pipeline_funnel").collect()
    }
    streamed = {
        r["stage"]: (r["n_in"], r["n_out"], r["n_dropped"], r["drop_bp"])
        for r in _staged(spark, "stream_docs_pipeline_funnel").collect()
    }
    assert streamed == batch


# --- r11-wave tf audits: extend the round-10 independent-scanner device
# to the three entries promoting next round (they predate it) -------------

def _hcl_blocks(text):
    """Crude top-level block extractor for the pinned fixture shapes:
    yields (block_type, labels, source) where source spans the header
    line through the matching close brace (the engine's `source` column
    span), via depth counting — no HCL machinery shared with the
    entries."""
    import re

    out = []
    for m in re.finditer(
        r'(?m)^(resource|provider|variable|output|data|locals|module|terraform)'
        r'((?:\s+"[^"]+")*)\s*\{', text
    ):
        labels = re.findall(r'"([^"]+)"', m.group(2))
        depth, i = 1, m.end()
        while depth and i < len(text):
            if text[i] == "{":
                depth += 1
            elif text[i] == "}":
                depth -= 1
            i += 1
        out.append((m.group(1), labels, text[m.start():i]))
    return out


def _corpus_blocks(subdir):
    import pathlib

    fix = pathlib.Path(__file__).resolve().parent / "fixtures" / subdir
    blocks = []
    for p in sorted(fix.glob("*.tf")):
        blocks += _hcl_blocks(p.read_text())
    return blocks


def test_reference_graph_pure_python_reference(spark):
    """tf_resource_reference_graph vs a regex scan over the corpus:
    same token shape + left boundary, same declared-address inner
    join as the disambiguator (prose like docs.example.com and
    var.* traversals match the shape but no declared address), same
    occurrence counting and self-edge exclusion."""
    import collections
    import re

    blocks = _corpus_blocks("graph")
    declared = set()
    for bt, labels, _src in blocks:
        if bt == "resource" and len(labels) == 2:
            declared.add(f"{labels[0]}.{labels[1]}")
        elif bt == "data" and len(labels) == 2:
            declared.add(f"data.{labels[0]}.{labels[1]}")
    tok = re.compile(
        r"(?<![A-Za-z0-9_.-])(?:data\.)?[a-z][a-z0-9_]*\."
        r"[A-Za-z_][A-Za-z0-9_-]*"
    )
    want = collections.Counter()
    for bt, labels, src in blocks:
        if bt != "resource" or len(labels) != 2:
            continue
        src_addr = f"{labels[0]}.{labels[1]}"
        for m in tok.finditer(src):
            t = m.group(0)
            if t in declared and t != src_addr:
                want[(src_addr, t)] += 1
    got = {
        (r["src_address"], r["dst_address"]): r["n_refs"]
        for r in _staged(spark, "tf_resource_reference_graph").collect()
    }
    assert got == dict(want)


def test_sensitive_output_audit_pure_python_reference(spark):
    """tf_sensitive_output_audit vs a scanner replay: anchored
    sensitive detection on variable AND output sources, deduplicated
    var refs per output, leak/ok_marked/clean rules."""
    import re

    blocks = _corpus_blocks("sensitive")
    anchored = re.compile(r"(?m)^\s*sensitive\s*=\s*true")
    var_tok = re.compile(r"(?<![A-Za-z0-9_.-])var\.([A-Za-z_][A-Za-z0-9_-]*)")
    sens = {
        labels[0]
        for bt, labels, src in blocks
        if bt == "variable" and anchored.search(src)
    }
    want = set()
    for bt, labels, src in blocks:
        if bt != "output":
            continue
        marked = bool(anchored.search(src))
        refs = set(var_tok.findall(src))
        hits = sorted(refs & sens)
        n = len(hits)
        status = (
            "leak" if n and not marked
            else "ok_marked" if n
            else "clean"
        )
        want.add((labels[0], ",".join(hits), n, marked, status))
    got = {
        (r["output_name"], r["sensitive_vars"], r["n_sensitive_refs"],
         r["sensitive_marked"], r["status"])
        for r in _staged(spark, "tf_sensitive_output_audit").collect()
    }
    assert got == want


def test_tags_inheritance_pure_python_reference(spark):
    """tf_tags_inheritance_audit vs a scanner replay: default_tags key
    extraction, explicit provider meta-arg routing vs type-prefix
    default, own ∪ inherited key union, required = {Env, Owner}."""
    import re

    blocks = _corpus_blocks("tags")
    providers = {}
    for bt, labels, src in blocks:
        if bt != "provider":
            continue
        alias = re.search(r'(?m)^\s*alias\s*=\s*"([^"]+)"', src)
        dt = re.search(
            r"default_tags\s*\{\s*tags\s*=\s*\{([^}]*)\}", src, flags=re.S
        )
        keys = set(re.findall(r"(?m)^\s*(\w+)\s*=", dt.group(1))) if dt else set()
        providers[(labels[0], alias.group(1) if alias else None)] = keys
    required = {"Env", "Owner"}
    want = set()
    for bt, labels, src in blocks:
        if bt != "resource" or len(labels) != 2:
            continue
        rtype, rname = labels
        own_m = re.search(r"(?m)^\s*tags\s*=\s*\{([^}]*)\}", src, flags=re.S)
        own = set(re.findall(r"(?m)^\s*(\w+)\s*=", own_m.group(1))) if own_m else set()
        pm = re.search(r"(?m)^\s*provider\s*=\s*(\w+)(?:\.(\w+))?", src)
        pname = pm.group(1) if pm else rtype.split("_", 1)[0]
        palias = pm.group(2) if pm else None
        eff = sorted(own | providers.get((pname, palias), set()))
        missing = sorted(required - set(eff))
        want.add(
            (f"{rtype}.{rname}", pname, palias, ",".join(eff),
             ",".join(missing),
             "compliant" if not missing else "violation")
        )
    got = {
        (r["address"], r["provider_name"], r["provider_alias"],
         r["effective_tag_keys"], r["missing_tags"], r["status"])
        for r in _staged(spark, "tf_tags_inheritance_audit").collect()
    }
    assert got == want


_BLOCK_TABLE = {
    "resource": "terraform_resource",
    "variable": "terraform_variable",
    "locals": "terraform_local",
    "output": "terraform_output",
    "module": "terraform_module",
    "provider": "terraform_provider",
    "data": "terraform_data_source",
    "terraform": "terraform_settings",
}


def test_unused_locals_pure_python_reference(spark):
    """tf_unused_locals vs a scanner replay of the declarations-minus-
    references device: refs counted per distinct NON-locals block (the
    escape-point semantics — a local referenced only from another
    locals block stays 'unused'), left-boundary local. tokens. The
    parser-rendered `value` column is asserted non-null but not
    re-rendered (that would share the renderer)."""
    import re

    blocks = _corpus_blocks("locals_usage")
    tok = re.compile(
        r"(?<![A-Za-z0-9_.-])local\.([A-Za-z_][A-Za-z0-9_-]*)"
    )
    declared = set()
    for bt, _labels, src in blocks:
        if bt == "locals":
            body = src[src.index("{") + 1:]
            declared |= set(re.findall(r"(?m)^\s*(\w+)\s*=", body))
    counts = {n: 0 for n in declared}
    for bt, _labels, src in blocks:
        if bt == "locals":
            continue
        for n in set(tok.findall(src)):
            if n in counts:
                counts[n] += 1
    rows = _staged(spark, "tf_unused_locals").collect()
    got = {r["name"]: (r["n_ref_blocks"], r["status"]) for r in rows}
    assert set(got) == declared
    for n, c in counts.items():
        assert got[n] == (c, "used" if c else "unused")
    for r in rows:
        assert r["value"] is not None


def test_undeclared_references_pure_python_reference(spark):
    """tf_undeclared_references vs a scanner replay: per kind, tokens
    from every config block OUTSIDE the kind's declaring table, distinct
    per block, minus the declared names of that kind; counts are
    distinct referencing blocks."""
    import collections
    import re

    blocks = _corpus_blocks("dangling")
    kinds = {
        "var": ("terraform_variable",
                re.compile(r"(?<![A-Za-z0-9_.-])var\.([A-Za-z_][A-Za-z0-9_-]*)")),
        "local": ("terraform_local",
                  re.compile(r"(?<![A-Za-z0-9_.-])local\.([A-Za-z_][A-Za-z0-9_-]*)")),
        "module": ("terraform_module",
                   re.compile(r"(?<![A-Za-z0-9_.-])module\.([A-Za-z_][A-Za-z0-9_-]*)")),
    }
    declared = {
        "var": set(), "local": set(), "module": set(),
    }
    for bt, labels, src in blocks:
        if bt == "variable":
            declared["var"].add(labels[0])
        elif bt == "module":
            declared["module"].add(labels[0])
        elif bt == "locals":
            body = src[src.index("{") + 1:]
            declared["local"] |= set(re.findall(r"(?m)^\s*(\w+)\s*=", body))
    want = collections.Counter()
    for kind, (table, tok) in kinds.items():
        for bt, _labels, src in blocks:
            if _BLOCK_TABLE[bt] == table:
                continue
            for n in set(tok.findall(src)):
                if n not in declared[kind]:
                    want[(kind, n)] += 1
    got = {
        (r["kind"], r["ref_name"]): r["n_ref_blocks"]
        for r in _staged(spark, "tf_undeclared_references").collect()
    }
    assert got == dict(want)


def test_recall_curve_internal_consistency(spark):
    """emb_ann_recall_curve: recall must be monotone non-decreasing in
    nprobe (probing more buckets can only add candidates), hits bounded
    by the ground-truth size, and recall_bp the integer division of the
    row's own counters against |Q|·5."""
    rows = {
        r["nprobe"]: r
        for r in _staged(spark, "emb_ann_recall_curve").collect()
    }
    assert sorted(rows) == [1, 2, 4]
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id"])
    n_q = sum(1 for v in emb["vec_id"].to_pylist() if v < 10)
    n_exact = 5 * n_q
    prev = -1
    for np_ in (1, 2, 4):
        r = rows[np_]
        assert 0 <= r["n_hits"] <= n_exact
        assert r["recall_bp"] == r["n_hits"] * 10000 // n_exact
        assert r["n_hits"] >= prev
        prev = r["n_hits"]


def test_dedup_rate_report_matches_cluster_map(spark):
    """docs_dedup_rate_report ≡ aggregates of the PROMOTED dedup_clusters
    entry's own rows (shared map by construction — any divergence is an
    aggregation bug)."""
    import collections

    from steampipe_plugin_terraform_spark.catalog import QUERIES

    clusters = QUERIES["dedup_clusters"](spark, SF_DIR).collect()
    sizes = collections.Counter(r["cluster_id"] for r in clusters)
    row = _staged(spark, "docs_dedup_rate_report").collect()[0]
    assert row["n_docs"] == len(clusters)
    assert row["n_clusters"] == len(sizes)
    assert row["n_dup_docs"] == len(clusters) - len(sizes)
    assert row["dup_rate_bp"] == (
        (len(clusters) - len(sizes)) * 10000 // len(clusters)
    )
    assert row["max_cluster_size"] == max(sizes.values())


def test_moved_blocks_pure_python_reference(spark):
    """tf_moved_blocks_audit vs a regex scanner over the fixture corpus:
    from/to extraction and the four-way kind classification re-derived
    without the HCL parser or the golden rows."""
    import pathlib
    import re

    fix = pathlib.Path(__file__).resolve().parent / "fixtures" / "moved"
    want = set()
    for p in sorted(fix.glob("*.tf")):
        for body in re.findall(
            r"(?m)^moved\s*\{([^}]*)\}", p.read_text(), flags=re.S
        ):
            frm = re.search(r"from\s*=\s*([\w.\-]+)", body).group(1)
            to = re.search(r"to\s*=\s*([\w.\-]+)", body).group(1)
            f_mod, t_mod = frm.startswith("module."), to.startswith("module.")
            if f_mod and t_mod:
                kind = "module_rename"
            elif t_mod:
                kind = "into_module"
            elif frm.split(".", 1)[0] == to.split(".", 1)[0]:
                kind = "rename"
            else:
                kind = "retype"
            want.add((p.name, frm, to, kind))
    got = {
        (r["file"], r["from_addr"], r["to_addr"], r["kind"])
        for r in _staged(spark, "tf_moved_blocks_audit").collect()
    }
    assert got == want


def _benford_dev_e6(counts):
    """Python-int Benford report from a digit Counter (shared by the
    batch and stream replays; constants re-derived from math.log10, NOT
    copied from the catalog literals)."""
    import math

    total = sum(counts.values())
    out = {}
    for d, n in counts.items():
        bf = math.floor(math.log10(1 + 1 / d) * 1_000_000)
        out[d] = (n, n * 1_000_000 // total, bf, n * 1_000_000 // total - bf)
    return out


def test_stream_benford_equals_batch_definition(spark):
    """stream_benford_monitor vs the same per-type Python replay over
    the whole events table — the stream≡batch identity, plus the
    re-derived-constants cross-check."""
    import math

    t = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["event_type", "value"]
    )
    per_type = collections.defaultdict(collections.Counter)
    for et, v in zip(t["event_type"].to_pylist(), t["value"].to_pylist()):
        per_type[et][int(str(math.floor(v * 100 + 0.5))[0])] += 1
    want = {}
    for et, counts in per_type.items():
        for d, (n, _obs, _bf, dev) in _benford_dev_e6(counts).items():
            want[(et, d)] = (n, dev)
    got = {
        (r["event_type"], r["digit"]): (r["n"], r["dev_e6"])
        for r in _staged(spark, "stream_benford_monitor").collect()
    }
    assert got == want


def test_tfidf_keywords_pure_python_reference(spark):
    """docs_tfidf_keywords vs a from-scratch Python replay of the whole
    pipeline: tokenize, tf, df, integer score, (score desc, term asc)
    top-3 — exact arithmetic, no Spark expressions, no SQL."""
    import re

    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    word = re.compile(r"^[A-Za-z0-9]+$")
    tf = collections.Counter()
    for did, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        for w in text.split(" "):
            if word.match(w):
                tf[(did, w.lower())] += 1
    df = collections.Counter(term for (_d, term) in tf)
    per_doc = collections.defaultdict(list)
    for (did, term), f in tf.items():
        per_doc[did].append((-(f * 1_000_000 // df[term]), term, f))
    want = set()
    for did, rows in per_doc.items():
        for rnk, (negscore, term, f) in enumerate(sorted(rows)[:3], start=1):
            want.add((did, term, f, df[term], -negscore, rnk))
    got = {
        (r["doc_id"], r["term"], r["tf"], r["df"], r["score_e6"], r["rnk"])
        for r in _staged(spark, "docs_tfidf_keywords").collect()
    }
    assert got == want


def test_provider_alias_orphans_pure_python_reference(spark):
    """tf_provider_alias_orphans vs a regex scanner over the corpus:
    provider blocks re-parsed with the crude extractor, resource routing
    re-derived from the provider argument / type prefix, and the five
    statuses re-classified with plain dict lookups."""
    import re

    blocks = _corpus_blocks("provideralias")
    has_unaliased = collections.defaultdict(bool)
    aliases = collections.defaultdict(set)
    for bt, labels, src in blocks:
        if bt != "provider" or len(labels) != 1:
            continue
        m = re.search(r'(?m)^\s*alias\s*=\s*"([^"]+)"', src)
        if m:
            aliases[labels[0]].add(m.group(1))
        else:
            has_unaliased[labels[0]] = True
    want = {}
    for bt, labels, src in blocks:
        if bt != "resource" or len(labels) != 2:
            continue
        addr = f"{labels[0]}.{labels[1]}"
        m = re.search(
            r"(?m)^\s*provider\s*=\s*([A-Za-z0-9_-]+)(?:\.([A-Za-z0-9_-]+))?\s*$",
            src,
        )
        name = m.group(1) if m else labels[0].split("_")[0]
        alias = m.group(2) if m else None
        if alias is not None:
            status = (
                "ok_aliased" if alias in aliases[name] else "orphan_alias"
            )
        elif has_unaliased[name]:
            status = "ok_default"
        elif aliases[name]:
            status = "default_missing"
        else:
            status = "implicit_default"
        want[addr] = (name, alias, status)
    got = {
        r["address"]: (r["provider_name"], r["provider_alias"], r["status"])
        for r in _staged(spark, "tf_provider_alias_orphans").collect()
    }
    assert got == want


def test_ivf_delete_commutes_with_probe(spark):
    """emb_ivf_delete_maintenance internal consistency: tombstone-then-
    probe (the entry) must equal probe-then-tombstone — the FULL ranking
    over the undeleted store, deleted ids dropped and re-ranked in
    Python. Also pins the erasure guarantee: no deleted id ever
    surfaces. Shares the probe operator but not the Lloyd-replay oracle."""
    from steampipe_plugin_terraform_spark import catalog as cat
    from steampipe_plugin_terraform_spark.operators import similarity

    loaded, cents = similarity.ivf_load(
        spark, cat._ivf_store_path(spark, SF_DIR)
    )
    emb = cat._t(spark, SF_DIR, "embeddings")
    full = similarity.ivf_topk(
        emb.filter("vec_id < 10"), loaded, cents, k=10**6, nprobe=8
    ).collect()
    per_q = collections.defaultdict(list)
    for r in full:
        if r["neighbor_id"] % 8 != 3:
            per_q[r["query_id"]].append((-r["cosine"], r["neighbor_id"]))
    want = set()
    for qid, rows in per_q.items():
        for rank, (negcos, nid) in enumerate(sorted(rows)[:5], start=1):
            want.add((qid, nid, -negcos, rank))
    got = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in _staged(spark, "emb_ivf_delete_maintenance").collect()
    }
    assert not {g for g in got if g[1] % 8 == 3}
    assert got == want


def test_cdc_last_value_pure_python_reference(spark):
    """stream_cdc_last_value vs a Python replay of last-write-wins under
    the (ts, event_id) total order — the any-number-of-merges
    convergence target, checked against the drained serving table."""
    import math

    t = pq.read_table(
        f"{SF_DIR}/events.parquet",
        columns=["user_id", "ts", "event_type", "event_id", "value"],
    ).to_pandas()
    want = {}
    for row in t.itertuples(index=False):
        key = row.user_id
        cand = (row.ts, row.event_id, row.event_type, row.value)
        if key not in want or (cand[0], cand[1]) > (want[key][0], want[key][1]):
            want[key] = cand
    expected = {
        u: (ts.to_pydatetime(), et, math.floor(v * 100 + 0.5))
        for u, (ts, _eid, et, v) in want.items()
    }
    got = {
        r["user_id"]: (
            r["last_ts"].replace(tzinfo=None),
            r["last_type"],
            r["last_value_cents"],
        )
        for r in _staged(spark, "stream_cdc_last_value").collect()
    }
    assert got == expected


def test_knn_label_vote_matches_promoted_ranking(spark):
    """emb_knn_label_vote cross-entry identity: its vote, recomputed in
    Python from the PROMOTED emb_cosine_topk entry's neighbor sets plus
    the parquet labels, must match row for row — the vote logic is
    checked against a driver-validated ranking it does not share."""
    emb = pq.read_table(
        f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "label"]
    )
    labels = dict(zip(emb["vec_id"].to_pylist(), emb["label"].to_pylist()))
    topk = collections.defaultdict(list)
    for r in _staged(spark, "emb_cosine_topk").collect():
        topk[r["query_id"]].append(r["neighbor_id"])
    want = {}
    for qid, nids in topk.items():
        votes = collections.Counter(labels[n] for n in nids)
        lab, cnt = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[qid] = (labels[qid], lab, cnt, int(lab == labels[qid]))
    got = {
        r["query_id"]: (
            r["true_label"],
            r["voted_label"],
            r["n_votes"],
            r["correct"],
        )
        for r in _staged(spark, "emb_knn_label_vote").collect()
    }
    assert got == want


def test_count_foreach_expansion_pure_python_reference(spark):
    """tf_count_foreach_expansion vs a regex scanner over the corpus:
    count/for_each meta-args re-read from the block text with crude
    pattern matching, expansion re-classified, static sizes re-counted
    (map keys by brace-block key lines, list items by comma split)."""
    import re

    blocks = _corpus_blocks("expansion")
    want = {}
    for bt, labels, src in blocks:
        if bt != "resource" or len(labels) != 2:
            continue
        addr = f"{labels[0]}.{labels[1]}"
        mc = re.search(r"(?m)^\s*count\s*=\s*(.+)$", src)
        mf = re.search(r"(?m)^\s*for_each\s*=\s*(.+)$", src)
        if mc:
            val = mc.group(1).strip()
            if re.fullmatch(r"\d+", val):
                want[addr] = ("static_count", int(val))
            else:
                want[addr] = ("dynamic_count", None)
        elif mf:
            val = mf.group(1).strip()
            if val.startswith("toset([") and val.endswith("])"):
                inner = val[val.index("[") + 1 : val.rindex("]")].strip()
                n = len([x for x in inner.split(",") if x.strip()])
                want[addr] = ("static_foreach", n)
            elif val.startswith("["):
                inner = val[1 : val.rindex("]")].strip()
                n = len([x for x in inner.split(",") if x.strip()])
                want[addr] = ("static_foreach", n)
            elif val.startswith("{"):
                # keys of the literal map: one `k = v` line per key
                body = src[src.index(mf.group(0)) :]
                body = body[body.index("{") + 1 : body.index("}")]
                n = len(re.findall(r"(?m)^\s*[A-Za-z0-9_\"]+\s*=", body))
                want[addr] = ("static_foreach", n)
            else:
                want[addr] = ("dynamic_foreach", None)
        else:
            want[addr] = ("single", 1)
    got = {
        r["address"]: (r["expansion"], r["n_instances"])
        for r in _staged(spark, "tf_count_foreach_expansion").collect()
    }
    assert got == want


def test_lifecycle_audit_pure_python_reference(spark):
    """tf_lifecycle_audit vs a crude regex scanner over the corpus:
    lifecycle sub-blocks re-read from the block text, booleans /
    ignore_changes list / the `all` keyword re-classified, the status
    precedence re-applied — shares no machinery with the parser chain
    or the golden VALUES."""
    import re

    blocks = _corpus_blocks("lifecycle")
    want = {}
    for bt, labels, src in blocks:
        if bt != "resource" or len(labels) != 2:
            continue
        addr = f"{labels[0]}.{labels[1]}"
        m = re.search(r"lifecycle\s*\{([^}]*)\}", src, re.S)
        body = m.group(1) if m else ""
        pd_ = bool(re.search(r"prevent_destroy\s*=\s*true", body))
        cbd = bool(re.search(r"create_before_destroy\s*=\s*true", body))
        mi = re.search(r"ignore_changes\s*=\s*(\[[^\]]*\]|all)", body)
        ignores_all = bool(mi and mi.group(1) == "all")
        n_ignored = None
        if mi and mi.group(1).startswith("["):
            inner = mi.group(1)[1:-1].strip()
            n_ignored = len([x for x in inner.split(",") if x.strip()])
        status = (
            "protected" if pd_
            else "drift_blind_all" if ignores_all
            else "drift_blind" if (n_ignored or 0) > 0
            else "zero_downtime" if cbd
            else "default"
        )
        want[addr] = (pd_, cbd, ignores_all, n_ignored, status)
    got = {
        r["address"]: (
            r["prevent_destroy"],
            r["create_before_destroy"],
            r["ignores_all"],
            r["n_ignored"],
            r["status"],
        )
        for r in _staged(spark, "tf_lifecycle_audit").collect()
    }
    assert got == want


def test_legacy_interpolation_pure_python_reference(spark):
    """tf_legacy_interpolation_audit vs a Python-re scan of the same
    pattern over the fixture text, PLUS the negative pins the regex
    must hold: composite interpolations ("${var.env}-alerts",
    "${a}-${b}") and bare traversals never match — the exact widening
    a lost escaping level would introduce."""
    import re

    from steampipe_plugin_terraform_spark.catalog import _LEGACY_INTERP_RE

    pat = re.compile(_LEGACY_INTERP_RE)
    # negative pins: composite / bare forms must NOT match
    for line in (
        'name = "${var.env}-alerts"',
        'name = "${var.a}-${var.b}"',
        "bucket = local.base_name",
        'acl = "private"',
    ):
        assert not pat.search(line), line
    assert pat.search('ami = "${var.region}"').group(1) == "ami"

    blocks = _corpus_blocks("legacyinterp")
    want = {}
    for bt, labels, src in blocks:
        if bt == "locals":
            continue
        if bt == "resource" and len(labels) == 2:
            table, blk = "terraform_resource", f"{labels[0]}.{labels[1]}"
        elif bt == "output":
            table, blk = "terraform_output", labels[0]
        elif bt == "variable":
            table, blk = "terraform_variable", labels[0]
        else:
            continue
        attrs = sorted(set(pat.findall(src)))
        if attrs:
            want[(table, blk)] = (len(attrs), ",".join(attrs))
    got = {
        (r["tf_table"], r["block"]): (r["n_legacy"], r["legacy_attrs"])
        for r in _staged(spark, "tf_legacy_interpolation_audit").collect()
    }
    assert got == want


def test_mannwhitney_pure_python_reference(spark):
    """q_lineitem_mannwhitney_u vs a from-scratch Python-bigint replay:
    per-row rank-free U from the raw columns, tie-corrected variance,
    the same two-stage floor-division snap — arbitrary-precision ints
    make every step exact, so any mismatch is a Spark-side DECIMAL or
    division-semantics bug."""
    import collections

    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_linestatus", "l_quantity"]
    ).to_pandas()
    ca: collections.Counter = collections.Counter()
    cb: collections.Counter = collections.Counter()
    for g, q in zip(t["l_linestatus"], t["l_quantity"]):
        (ca if g == "F" else cb)[int(q)] += 1
    n_a, n_b = sum(ca.values()), sum(cb.values())
    conc = sum(
        na * nb for qa, na in ca.items() for qb, nb in cb.items() if qa > qb
    )
    tie_n = sum(na * cb.get(qa, 0) for qa, na in ca.items())
    u2 = 2 * conc + tie_n
    nn = n_a + n_b
    pooled = ca + cb
    ties_sum = sum(v * v * v - v for v in pooled.values())
    mean2 = n_a * n_b
    z2_e3 = (
        ((u2 - mean2) * (u2 - mean2) * 1000 // mean2)
        * 3 * nn * (nn - 1)
        // ((nn + 1) * nn * (nn - 1) - ties_sum)
    )
    rows = _staged(spark, "q_lineitem_mannwhitney_u").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_a"], r["n_b"], r["u2"], r["z2_e3"]) == (
        n_a, n_b, u2, z2_e3,
    )


def test_overdispersion_pure_python_reference(spark):
    """q_events_overdispersion vs a Python-bigint replay over raw
    epoch-µs hours: same closed spine, same (H·Σn² − (Σn)²)·10³ floor
    division, same label bands."""
    import collections

    t = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_type", "ts"])
    tp = t.to_pandas()
    hc: collections.Counter = collections.Counter()
    for et, ts in zip(tp["event_type"], tp["ts"]):
        hc[(et, int(ts.value // 1000) // 3600000000)] += 1
    hours = {h for _, h in hc}
    n_hours = max(hours) - min(hours) + 1
    agg: dict = {}
    for (et, _h), n in hc.items():
        s, s2 = agg.get(et, (0, 0))
        agg[et] = (s + n, s2 + n * n)
    want = {}
    for et, (n_events, sum_sq) in agg.items():
        d = (n_hours * sum_sq - n_events * n_events) * 1000 // (
            n_hours * n_events
        )
        label = (
            "overdispersed" if d > 1200
            else "underdispersed" if d < 800
            else "poisson_like"
        )
        want[et] = (n_events, n_hours, d, label)
    got = {
        r["event_type"]: (
            r["n_events"], r["n_hours"], r["dispersion_e3"], r["label"],
        )
        for r in _staged(spark, "q_events_overdispersion").collect()
    }
    assert got == want


def test_markov_stationary_pure_python_reference(spark):
    """q_events_markov_stationary vs a Python-bigint replay of the
    whole walk: successor pairs from a dict-of-lists sort, the 3
    per-term-floored power-iteration steps — plus the cross-entry
    identity that the transition grid equals q_events_transitions'
    (prev, next, n) cells."""
    import collections

    t = pq.read_table(
        f"{SF_DIR}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type"],
    ).to_pandas()
    seqs: dict = collections.defaultdict(list)
    for u, ts, eid, et in zip(
        t["user_id"], t["ts"], t["event_id"], t["event_type"]
    ):
        seqs[u].append((ts, eid, et))
    grid: collections.Counter = collections.Counter()
    for u, rows in seqs.items():
        rows.sort(key=lambda r: (r[0], r[1]))
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            grid[(a, b)] += 1
    tots: collections.Counter = collections.Counter()
    for (i, _j), n in grid.items():
        tots[i] += n
    states = sorted({i for i, _ in grid} | {j for _, j in grid})
    pi = {s: 1000000 // len(states) for s in states}
    for _ in range(3):
        nxt: collections.Counter = collections.Counter()
        for (i, j), n in grid.items():
            if i in pi:
                nxt[j] += (pi[i] * n) // tots[i]
        pi = dict(nxt)
    # cross-entry identity: the grid is the promoted transitions matrix
    from steampipe_plugin_terraform_spark.catalog import QUERIES

    trans = {
        (r["prev_type"], r["event_type"]): r["n"]
        for r in QUERIES["q_events_transitions"](spark, SF_DIR)
        .select("prev_type", "event_type", "n")
        .collect()
    }
    assert trans == dict(grid)
    got = {
        r["event_type"]: r["pi_e6"]
        for r in _staged(spark, "q_events_markov_stationary").collect()
    }
    assert got == pi


def test_stream_overdispersion_matches_batch(spark):
    """stream_overdispersion_monitor ≡ q_events_overdispersion row for
    row — the stream≡batch identity checked directly (the shared oracle
    checks it against DuckDB; this checks the two Spark legs against
    each other, so a drift in either leg's streaming/batch plumbing
    surfaces even if both still match some oracle)."""
    stream_rows = {
        r["event_type"]: (r["n_events"], r["n_hours"], r["dispersion_e3"], r["label"])
        for r in _staged(spark, "stream_overdispersion_monitor").collect()
    }
    batch_rows = {
        r["event_type"]: (r["n_events"], r["n_hours"], r["dispersion_e3"], r["label"])
        for r in _staged(spark, "q_events_overdispersion").collect()
    }
    assert stream_rows == batch_rows


def test_vocab_growth_pure_python_reference(spark):
    """docs_vocab_growth vs a Python replay: trigram first-occurrence
    map, value-range quarter cuts, exact per-cut doc and vocab counts —
    plus the Heaps sanity that the curve is non-decreasing."""
    import re as _re

    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    alnum = _re.compile(r"^[A-Za-z0-9]+$")
    first: dict = {}
    ids = []
    for did, text in zip(t["doc_id"], t["text"]):
        did = int(did)
        ids.append(did)
        ws = text.split(" ")
        for i in range(len(ws) - 2):
            if alnum.match(ws[i]) and alnum.match(ws[i + 1]) and alnum.match(ws[i + 2]):
                term = f"{ws[i].lower()} {ws[i+1].lower()} {ws[i+2].lower()}"
                if term not in first or did < first[term]:
                    first[term] = did
    lo, hi = min(ids), max(ids)
    want = {}
    for k in (1, 2, 3, 4):
        cut = lo + ((hi - lo + 1) * k) // 4 - 1
        want[k] = (
            cut,
            sum(1 for d in ids if d <= cut),
            sum(1 for fd in first.values() if fd <= cut),
        )
    got = {
        r["qtr"]: (r["cut_id"], r["n_docs"], r["vocab_size"])
        for r in _staged(spark, "docs_vocab_growth").collect()
    }
    assert got == want
    sizes = [got[k][2] for k in (1, 2, 3, 4)]
    assert sizes == sorted(sizes)


def test_ivf_compaction_identity_and_erasure(spark):
    """emb_ivf_compaction: (a) ≡ emb_ivf_delete_maintenance row for row
    (compaction is invisible to queries — the triad's closing
    identity), (b) erasure: no tombstoned id ever surfaces, (c) the
    compacted store PHYSICALLY holds exactly the survivor set (the
    bytes are gone, not merely filtered)."""
    from steampipe_plugin_terraform_spark.catalog import (
        _ivf_compacted_path,
        _ivf_store_path,
    )

    compacted = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in _staged(spark, "emb_ivf_compaction").collect()
    }
    filtered = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in _staged(spark, "emb_ivf_delete_maintenance").collect()
    }
    assert compacted == filtered
    assert all(nid % 8 != 3 for nid, _ in compacted.values())
    old = {
        r["vec_id"]
        for r in spark.read.parquet(_ivf_store_path(spark, SF_DIR)).collect()
    }
    new = {
        r["vec_id"]
        for r in spark.read.parquet(
            _ivf_compacted_path(spark, SF_DIR)
        ).collect()
    }
    assert new == {v for v in old if v % 8 != 3}


def test_unused_data_sources_pure_python_reference(spark):
    """tf_unused_data_sources vs a regex scan over the corpus: declared
    (type, name) pairs vs data.<type>.<name> traversals in non-data
    blocks, distinct referencing-block counts re-derived."""
    import re

    blocks = _corpus_blocks("datasources")
    declared, refs = [], {}
    pat = re.compile(
        r"(?<![A-Za-z0-9_.-])data\.([A-Za-z_][A-Za-z0-9_]*"
        r"\.[A-Za-z_][A-Za-z0-9_-]*)"
    )
    for bi, (bt, labels, src) in enumerate(blocks):
        if bt == "data" and len(labels) == 2:
            declared.append((labels[0], labels[1]))
        else:
            for key in set(pat.findall(src)):
                refs.setdefault(key, set()).add(bi)
    want = {}
    for ty, name in declared:
        n = len(refs.get(f"{ty}.{name}", ()))
        want[(ty, name)] = (n, "used" if n else "unused")
    got = {
        (r["type"], r["name"]): (r["n_ref_blocks"], r["status"])
        for r in _staged(spark, "tf_unused_data_sources").collect()
    }
    assert got == want


def test_kruskal_wallis_pure_python_and_textbook_agreement(spark):
    """q_lineitem_kruskal_wallis three ways: (a) exact bigint replay of
    the integer variance-form algebra, (b) agreement with the TEXTBOOK
    float form H/(1 − Σ(t³−t)/(N³−N)) to 1e-6 relative (the identity
    the entry's docstring claims), (c) the 5991464 decision constant
    re-derived from math.log (the re-derived-constants device — df=2
    because returnflag has exactly three levels)."""
    import collections
    import math

    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_returnflag", "l_quantity"]
    ).to_pandas()
    grid: collections.Counter = collections.Counter()
    for g, q in zip(t["l_returnflag"], t["l_quantity"]):
        grid[(g, int(q))] += 1
    lvl: collections.Counter = collections.Counter()
    for (_g, q), n in grid.items():
        lvl[q] += n
    nn = sum(lvl.values())
    rank2, cum = {}, 0
    for q in sorted(lvl):
        rank2[q] = 2 * cum + lvl[q] + 1
        cum += lvl[q]
    groups = sorted({g for g, _ in grid})
    s_num = 0
    for g in groups:
        n_i = sum(n for (gg, _q), n in grid.items() if gg == g)
        r2 = sum(n * rank2[q] for (gg, q), n in grid.items() if gg == g)
        s_num += (r2 - n_i * (nn + 1)) ** 2 // n_i
    s_den = sum(tq * (rank2[q] - (nn + 1)) ** 2 for q, tq in lvl.items())
    h_e6 = s_num * (nn - 1) * 1000000 // s_den
    rows = _staged(spark, "q_lineitem_kruskal_wallis").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_groups"], r["n_rows"], r["h_e6"]) == (
        len(groups), nn, h_e6,
    )
    # textbook tie-corrected H (floats) must agree with the integer form
    avg_rank = {q: rank2[q] / 2 for q in rank2}
    hb = 0.0
    for g in groups:
        n_i = sum(n for (gg, _q), n in grid.items() if gg == g)
        ri = sum(n * avg_rank[q] for (gg, q), n in grid.items() if gg == g)
        hb += ri * ri / n_i
    hb = 12.0 / (nn * (nn + 1)) * hb - 3 * (nn + 1)
    ties = sum(tq ** 3 - tq for tq in lvl.values())
    hb /= 1 - ties / (nn ** 3 - nn)
    assert abs(hb - h_e6 / 1e6) <= max(1e-6 * abs(hb), 2e-6)
    # decision constant: chi^2 upper-alpha quantile at df=2 is -2 ln(alpha)
    assert math.floor(-2 * math.log(0.05) * 1e6) == 5991464
    assert r["reject_05"] == (h_e6 > 5991464)


def test_abc_classes_pure_python_reference(spark):
    """q_supplier_abc_classes vs a Python replay of the inclusive-
    cumulative classification, plus the boundary invariants: class A's
    share never exceeds 8000 bp, A+B never exceeds 9500 bp (the
    crossing supplier falls out — the pinned semantics), and the class
    partition covers every supplier exactly once."""
    import collections
    import math

    t = pq.read_table(
        f"{SF_DIR}/lineitem.parquet", columns=["l_suppkey", "l_extendedprice"]
    ).to_pandas()
    rev: collections.Counter = collections.Counter()
    for s, p in zip(t["l_suppkey"], t["l_extendedprice"]):
        rev[int(s)] += math.floor(p * 100 + 0.5)
    tot = sum(rev.values())
    want: dict = {}
    crev = 0
    for s, r in sorted(rev.items(), key=lambda kv: (-kv[1], kv[0])):
        crev += r
        cls = "A" if crev * 100 <= tot * 80 else (
            "B" if crev * 100 <= tot * 95 else "C"
        )
        n, rv = want.get(cls, (0, 0))
        want[cls] = (n + 1, rv + r)
    want = {
        cls: (n, rv, rv * 10000 // tot) for cls, (n, rv) in want.items()
    }
    got = {
        r["cls"]: (r["n_suppliers"], r["revenue_cents"], r["share_bp"])
        for r in _staged(spark, "q_supplier_abc_classes").collect()
    }
    assert got == want
    assert sum(n for n, _, _ in got.values()) == len(rev)
    if "A" in got:
        assert got["A"][2] <= 8000
    if "A" in got and "B" in got:
        assert got["A"][2] + got["B"][2] <= 9500


def test_incremental_batch_pure_python_and_cross_entry(spark):
    """dedup_incremental_batch two ways: (a) full Python replay of the
    bipartite pipeline from raw text (shingles → md5 min-hash
    signatures → 4-band buckets → cross collisions → exact Jaccard ≥
    0.8 → snapped-rank best match), (b) the cross-entry identity that
    its duplicate PAIR SET equals the promoted corpus-wide
    `dedup_minhash_lsh` output restricted to cross pairs (one side in
    the batch) — membership is snap-independent because the ≥ 0.8 gate
    is the same integer cross-multiplication on both."""
    import collections
    import hashlib

    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    shingles, bands = {}, collections.defaultdict(set)
    for did, text in zip(t["doc_id"], t["text"]):
        did = int(did)
        w = text.split(" ")
        if len(w) >= 5:
            ss = {" ".join(w[i:i + 5]) for i in range(len(w) - 4)}
        else:
            ss = set()
        shingles[did] = ss
        if not ss:
            continue
        sig = [
            min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in ss)
            for i in range(8)
        ]
        for b in range(4):
            bh = hashlib.md5(
                f"{sig[2 * b]}|{sig[2 * b + 1]}".encode()
            ).hexdigest()
            bands[(b, bh)].add(did)
    cross: dict = collections.defaultdict(set)
    for ids in bands.values():
        news = [d for d in ids if d % 10 == 7]
        olds = [d for d in ids if d % 10 != 7]
        for nd in news:
            cross[nd].update(olds)
    want = {}
    for nd in (int(d) for d in t["doc_id"] if int(d) % 10 == 7):
        best = None
        for od in sorted(cross.get(nd, ())):
            c = len(shingles[nd] & shingles[od])
            un = len(shingles[nd]) + len(shingles[od]) - c
            if un == 0 or c * 10000 < 8000 * un:
                continue
            bp = c * 10000 // un
            if best is None or (bp, -od) > (best[1], -best[0]):
                best = (od, bp)
        want[nd] = (
            (best[0], best[1], "duplicate") if best else (None, None, "unique")
        )
    got = {
        r["new_id"]: (r["matched_id"], r["jacc_bp"], r["status"])
        for r in _staged(spark, "dedup_incremental_batch").collect()
    }
    assert got == want
    # cross-entry identity against the promoted corpus-wide LSH pairs
    from steampipe_plugin_terraform_spark.catalog import QUERIES

    promoted_cross = set()
    for r in QUERIES["dedup_minhash_lsh"](spark, SF_DIR).collect():
        a, b = r["id_a"], r["id_b"]
        if (a % 10 == 7) != (b % 10 == 7):
            promoted_cross.add((a, b) if a % 10 == 7 else (b, a))
    mine = set()
    for nd, ids in cross.items():
        for od in ids:
            c = len(shingles[nd] & shingles[od])
            un = len(shingles[nd]) + len(shingles[od]) - c
            if un > 0 and c * 10000 >= 8000 * un:
                mine.add((nd, od))
    assert mine == promoted_cross


def test_sign_hamming_numpy_replay_and_scale_invariance(spark):
    """emb_sign_hamming_recall two ways: (a) full numpy replay — sign
    words, Hamming top-10 with (distance, id) tie-break, exact cosine
    top-10 with the rounded-score + id device, per-query overlap — must
    match the entry rows exactly; (b) the invariance claim: scaling
    every vector by a positive constant changes no sign word, so the
    replayed Hamming ranking is identical on the scaled corpus (the
    same invariance cosine has — the reason a 1-bit code preserves
    angular neighborhoods)."""
    import math

    import numpy as np

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    ids = t["vec_id"].to_numpy()
    vecs = np.stack(t["embedding"].to_numpy()).astype(np.float64)

    def words(m):
        bits = m > 0
        w0 = (bits[:, :32] * (1 << np.arange(32, dtype=np.int64))).sum(1)
        w1 = (bits[:, 32:64] * (1 << np.arange(32, dtype=np.int64))).sum(1)
        return w0.astype(np.int64), w1.astype(np.int64)

    w0, w1 = words(vecs)
    s0, s1 = words(vecs * 2.5)  # positive scaling flips no sign bit
    assert (w0 == s0).all() and (w1 == s1).all()

    qm = ids < 10
    cm = ~qm

    def hamming_top10(qi):
        h = [
            (
                int(bin(int(w0[qi]) ^ int(w0[ci])).count("1"))
                + int(bin(int(w1[qi]) ^ int(w1[ci])).count("1")),
                int(ids[ci]),
            )
            for ci in np.where(cm)[0]
        ]
        return {nid for _h, nid in sorted(h)[:10]}

    def cosine_top10(qi):
        qv = vecs[qi]
        scored = []
        for ci in np.where(cm)[0]:
            cv = vecs[ci]
            cos = float(qv @ cv) / (
                math.sqrt(float(qv @ qv)) * math.sqrt(float(cv @ cv))
            )
            snapped = math.floor(cos * 1000000 + 0.5) / 1000000
            scored.append((-snapped, int(ids[ci])))
        return {nid for _s, nid in sorted(scored)[:10]}

    want = {}
    for qi in np.where(qm)[0]:
        n = len(hamming_top10(qi) & cosine_top10(qi))
        want[int(ids[qi])] = (n, n * 1000)
    got = {
        r["query_id"]: (r["n_overlap"], r["recall_x1e4"])
        for r in _staged(spark, "emb_sign_hamming_recall").collect()
    }
    assert got == want


def test_simpson_diversity_pure_python_and_uniform_identity(spark):
    """docs_simpson_diversity two ways: (a) exact bigint replay from the
    parquet with collections.Counter — token counts, unbiased pair
    algebra, both floor divisions; (b) the analytic identity λ of an
    exactly-uniform distribution (every term appearing m times over v
    terms) is (m−1)/(N−1) — checked on the replayed counters for any
    language that happens to be uniform, and on a constructed uniform
    counter to pin the formula itself."""
    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["lang", "text"]
    ).to_pandas()
    counts: dict = {}
    for lang, text in zip(t["lang"], t["text"]):
        c = counts.setdefault(lang, collections.Counter())
        c.update(text.split(" "))
    want = {}
    for lang, c in counts.items():
        nn = sum(c.values())
        pairs = sum(n * (n - 1) for n in c.values())
        simpson = (
            pairs * 1000000 // (nn * (nn - 1)) if nn > 1 else None
        )
        top = max(c.values()) * 10000 // nn if nn > 0 else None
        want[lang] = (nn, len(c), simpson, top)
    got = {
        r["lang"]: (
            r["n_tokens"], r["vocab"], r["simpson_e6"], r["top_share_bp"]
        )
        for r in _staged(spark, "docs_simpson_diversity").collect()
    }
    assert got == want
    # formula pin: uniform m=3, v=7 → λ = (m−1)/(N−1) = 2/20
    uni = collections.Counter({f"t{i}": 3 for i in range(7)})
    nn = sum(uni.values())
    pairs = sum(n * (n - 1) for n in uni.values())
    assert pairs * 1000000 // (nn * (nn - 1)) == 2 * 1000000 // 20


def test_zipf_slope_pure_python_and_bucket_boundaries(spark):
    """docs_zipf_slope two ways: (a) exact bigint replay — whitespace
    Counter → frequency spectrum → bit_length log₂ buckets → integer
    least squares with the sign device; (b) the binary-string-length
    bucket device pinned against int.bit_length at every power-of-two
    boundary up to 2⁶² (the exact points a float log2 could misbucket
    by 1 ulp)."""
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
    words: collections.Counter = collections.Counter()
    for txt in t["text"].to_pylist():
        for w in (txt or "").split(" "):
            if w:
                words[w] += 1
    spectrum: collections.Counter = collections.Counter()
    for f in words.values():
        spectrum[f] += 1
    pts = [(f.bit_length() - 1, c.bit_length() - 1)
           for f, c in spectrum.items()]
    p = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    num, d = p * sxy - sx * sy, p * sxx - sx * sx
    expect = None
    if d > 0:
        expect = (-1 if num < 0 else 1) * (abs(num) * 1_000_000 // d)
    rows = _staged(spark, "docs_zipf_slope").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_vocab"], r["n_points"], r["slope_e6_signed"]) == (
        sum(spectrum.values()), p, expect,
    )
    # the synthetic corpus has a ~31-word vocabulary and is NOT
    # Zipfian (spectrum slope comes out slightly positive) — the
    # screen reporting that honestly is the point; pin only that the
    # spectrum is non-degenerate so the slope actually computed
    assert r["slope_e6_signed"] is not None
    # (b) boundary pin: the Spark-side bucket expression at 2^k and
    # 2^k − 1 for every k ≤ 62 equals bit_length − 1 exactly
    vals = [1] + [v for k in range(1, 63) for v in (2**k - 1, 2**k)]
    df = spark.createDataFrame([(v,) for v in vals], "n: long")
    got = {
        r["n"]: r["b"]
        for r in df.selectExpr(
            "n", "CAST(length(bin(n)) - 1 AS BIGINT) AS b"
        ).collect()
    }
    for v in vals:
        assert got[v] == v.bit_length() - 1, v


def test_source_drift_chi2_pure_python_textbook_and_constant(spark):
    """docs_source_drift_chi2 three ways: (a) exact bigint replay over
    the FULL margin spine including absent cells; (b) textbook float χ²
    with expected counts agrees to 1e-5 relative; (c) the 97350970
    decision constant re-derived from the closed-form even-df χ² CDF by
    bisection (df = 76 — no scipy anywhere)."""
    import math

    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["source", "lang"]
    )
    grid = collections.Counter(
        zip(t["source"].to_pylist(), t["lang"].to_pylist())
    )
    rt = collections.Counter()
    ct = collections.Counter()
    for (s_, l_), n in grid.items():
        rt[s_] += n
        ct[l_] += n
    nn = sum(grid.values())
    s = 0
    for src in rt:
        for lg in ct:  # the FULL spine — absent cells contribute too
            o = grid.get((src, lg), 0)
            d = o * nn - rt[src] * ct[lg]
            s += d * d * 1_000_000 // (rt[src] * ct[lg] * nn)
    rows = _staged(spark, "docs_source_drift_chi2").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_docs"], r["n_sources"], r["n_langs"], r["chi2_e6"]) == (
        nn, len(rt), len(ct), s,
    )
    df_ = (len(rt) - 1) * (len(ct) - 1)
    assert df_ == 76 and r["reject_05"] == (s > 97350970)
    # (b) textbook float form
    chi_f = sum(
        (grid.get((src, lg), 0) - rt[src] * ct[lg] / nn) ** 2
        / (rt[src] * ct[lg] / nn)
        for src in rt
        for lg in ct
    )
    assert abs(chi_f - s / 1e6) <= max(1e-5 * chi_f, 2e-6)
    # (c) re-derive floor(chi2_0.95(76) * 1e6) via the closed-form
    # even-df CDF: P(X <= x) = 1 - exp(-x/2) * sum_{i<38} (x/2)^i / i!
    def cdf(x: float) -> float:
        acc, term = 0.0, 1.0
        for i in range(38):
            if i:
                term *= (x / 2) / i
            acc += term
        return 1 - math.exp(-x / 2) * acc

    lo, hi = 0.0, 500.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if cdf(mid) < 0.95:
            lo = mid
        else:
            hi = mid
    assert math.floor(lo * 1e6) == 97350970


def test_stream_zipf_equals_batch_zipf(spark):
    """stream_zipf_monitor ≡ docs_zipf_slope on the same corpus — the
    stream≡batch identity (complete-mode word counts are monotone
    ADD-merges), checked on actual rows, not SQL."""
    batch = _staged(spark, "docs_zipf_slope").collect()
    stream = _staged(spark, "stream_zipf_monitor").collect()
    assert [r.asDict() for r in batch] == [r.asDict() for r in stream]


def test_cov_top_eigen_numpy_spectrum_bounds(spark):
    """emb_cov_top_eigen vs numpy.linalg.eigvalsh on the FLOAT
    covariance — machinery-free invariants: the Rayleigh estimate can
    never exceed the true top eigenvalue (mathematical bound, up to
    milli-quantization slack), the integer trace must agree with the
    float trace to quantization error, and the energy share must be a
    valid basis-point fraction consistent with the other two columns."""
    import numpy as np

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["embedding"])
    x = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    cov = np.cov(x.T, bias=True)
    ev = np.linalg.eigvalsh(cov)
    lam_max_e6 = ev[-1] * 1e6
    trace_e6_f = ev.sum() * 1e6
    rows = _staged(spark, "emb_cov_top_eigen").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_vecs"] == len(x)
    # Rayleigh ≤ λ_max (allow milli-quantization slack: rounding each
    # element to the 1e-3 grid perturbs the spectrum by O(64·δ) with
    # δ = 5e-4 in original units → ≤ ~100 on the e6 scale)
    assert r["top_eigen_e6"] <= lam_max_e6 + 100
    # empirical-corpus pin: 3 power steps from the ones vector land
    # well above the mean eigenvalue on this spectrum (18.5k vs 15.6k
    # at sf0.1-shaped data) — a collapse of this margin means the
    # iteration or the rescale broke
    assert r["top_eigen_e6"] >= 0.9 * ev.mean() * 1e6
    assert abs(r["trace_e6"] - trace_e6_f) <= 0.01 * trace_e6_f
    assert 0 < r["top_energy_bp"] <= 10_000
    # cross-column identity on the snapped grid: energy ≈ λ̂/trace
    approx_bp = r["top_eigen_e6"] * 10_000 // max(r["trace_e6"], 1)
    assert abs(r["top_energy_bp"] - approx_bp) <= 2


def test_stream_source_drift_equals_batch(spark):
    """stream_source_drift_monitor ≡ docs_source_drift_chi2 on the same
    corpus — the stream≡batch identity (complete-mode grid counts are
    monotone ADD-merges), checked on actual rows."""
    batch = _staged(spark, "docs_source_drift_chi2").collect()
    stream = _staged(spark, "stream_source_drift_monitor").collect()
    assert [r.asDict() for r in batch] == [r.asDict() for r in stream]


def test_hapax_legomena_pure_python_reference(spark):
    """docs_hapax_legomena vs a collections.Counter replay over the
    parquet text — independent of Spark's split/explode/agg pipeline and
    of the oracle's SQL."""
    import collections

    tab = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["text"])
    cnt = collections.Counter()
    for t in tab["text"].to_pylist():
        cnt.update(t.split(" "))
    n_tokens = sum(cnt.values())
    n_types = len(cnt)
    n_hapax = sum(1 for v in cnt.values() if v == 1)
    row = _staged(spark, "docs_hapax_legomena").collect()[0]
    assert row["n_tokens"] == n_tokens
    assert row["n_types"] == n_types
    assert row["n_hapax"] == n_hapax
    assert row["ttr_bp"] == (
        n_types * 10000 // n_tokens if n_tokens else None
    )
    assert row["hapax_share_bp"] == (
        n_hapax * 10000 // n_types if n_types else None
    )


def test_sign_bit_balance_numpy_reference(spark):
    """emb_sign_bit_balance vs a numpy replay (sign counting per
    dimension), plus the inclusive-boundary pin of the balanced band:
    2000 and 8000 are balanced, 1999/8001 are not — BETWEEN is closed
    on both ends on both engines."""
    import numpy as np

    tab = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["embedding"])
    m = np.stack(tab["embedding"].to_numpy())
    n = m.shape[0]
    pos = (m > 0).sum(axis=0)
    rows = {r["dim"]: r for r in _staged(spark, "emb_sign_bit_balance").collect()}
    assert sorted(rows) == list(range(1, 65))
    for d in range(64):
        r = rows[d + 1]
        assert r["n_vecs"] == n
        assert r["n_pos"] == int(pos[d])
        share = int(pos[d]) * 10000 // n
        assert r["pos_share_bp"] == share
        assert r["balanced"] == (2000 <= share <= 8000)
    # boundary pin (pure arithmetic, engine-free)
    assert 2000 <= 2000 <= 8000 and 2000 <= 8000 <= 8000
    assert not (2000 <= 1999 <= 8000) and not (2000 <= 8001 <= 8000)


def test_code_detect_pure_python_reference(spark):
    """docs_code_detect vs a str.count/str.translate replay — Python's
    non-overlapping count matches both engines' replace-removal count by
    definition, so any divergence is a marker-definition bug."""
    tab = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    strip = str.maketrans("", "", "{}();=<>[]")
    want = {}
    for i, t in zip(tab["doc_id"].to_pylist(), tab["text"].to_pylist()):
        n_chars = len(t)
        n_sym = n_chars - len(t.translate(strip))
        n_lines = 1 + t.count("\n")
        n_indent = t.count("\n  ")
        sym_bp = n_sym * 10000 // n_chars if n_chars else None
        indent_bp = n_indent * 10000 // n_lines
        want[i] = (
            n_lines, sym_bp, indent_bp,
            (sym_bp or 0) >= 300 or indent_bp >= 2000,
        )
    got = {
        r["doc_id"]: (r["n_lines"], r["sym_bp"], r["indent_bp"], r["looks_code"])
        for r in _staged(spark, "docs_code_detect").collect()
    }
    assert got == want


def test_naming_convention_pure_python_reference(spark):
    """tf_resource_naming_convention vs a regex scanner over the fixture
    corpus — both lint axes re-derived without the HCL parser or the
    golden rows."""
    import pathlib
    import re

    fix = pathlib.Path(__file__).resolve().parent / "fixtures" / "naming"
    want = set()
    for p in sorted(fix.glob("*.tf")):
        for rtype, name in re.findall(
            r'(?m)^resource\s*"([\w-]+)"\s*"([\w-]+)"', p.read_text()
        ):
            snake = bool(re.fullmatch(r"[a-z][a-z0-9_]*", name))
            echo = rtype.split("_")[-1] in name
            n_viol = (not snake) + echo
            want.add(
                (p.name, rtype, name, snake, echo, n_viol,
                 "clean" if n_viol == 0 else "needs_attention")
            )
    got = {
        (r["file"], r["type"], r["name"], r["is_snake_case"],
         r["echoes_type"], r["n_violations"], r["status"])
        for r in _staged(spark, "tf_resource_naming_convention").collect()
    }
    assert got == want


def test_stream_hapax_equals_batch_hapax(spark):
    """stream_hapax_monitor ≡ docs_hapax_legomena on the same corpus —
    the stream≡batch identity (complete-mode token counts are monotone
    ADD-merges), checked on actual rows, not SQL."""
    batch = _staged(spark, "docs_hapax_legomena").collect()
    stream = _staged(spark, "stream_hapax_monitor").collect()
    assert [r.asDict() for r in batch] == [r.asDict() for r in stream]


def test_length_difference_device_duckdb_python_fuzz():
    """Fuzz the r15 length-difference marker-counting device on the
    DuckDB side against plain Python string ops (the Spark side is
    covered by the corpus replay above): translate char-class stripping
    and replace-based substring counting must agree with
    str.translate / str.count on arbitrary text — including braces,
    newlines, runs of spaces, and non-ASCII — or the docs_code_detect
    oracle would diverge on a corpus regen."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()
    strip = str.maketrans("", "", "{}();=<>[]")
    alphabet = st.characters(
        whitelist_categories=("L", "N", "P", "S", "Zs"),
        whitelist_characters="\n {}();=<>[]",
    )

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=120))
    def check(text):
        n_chars, n_sym, n_lines, n_indent = con.execute(
            """
            SELECT length(t),
                   length(t) - length(translate(t, '{}();=<>[]', '')),
                   1 + length(t) - length(replace(t, chr(10), '')),
                   (length(t) - length(replace(t, chr(10) || '  ', ''))) // 3
            FROM (SELECT ? AS t)
            """,
            [text],
        ).fetchone()
        assert n_chars == len(text)
        assert n_sym == len(text) - len(text.translate(strip))
        assert n_lines == 1 + text.count("\n")
        assert n_indent == text.count("\n  ")

    check()
    con.close()


def test_tokenize_device_three_engine_agreement(spark):
    """The split-on-space tokenize device underpinning every docs_*
    vocabulary entry (Spark F.split + explode, DuckDB
    unnest(string_split), Python str.split(' ')) fuzzed across all
    THREE engines on one seeded 200-string corpus: token multisets per
    row must agree exactly — including empty tokens from consecutive /
    leading / trailing spaces, which all three KEEP (the convention the
    oracles assume; a silent engine divergence here would skew every
    token count, TTR, and LM score at once)."""
    import random

    import duckdb

    rng = random.Random(1507)
    chars = "ab {}()\n\tø"
    texts = [
        "".join(rng.choice(chars) for _ in range(rng.randrange(0, 40)))
        for _ in range(198)
    ] + ["", "  "]

    py = [t.split(" ") for t in texts]

    con = duckdb.connect()
    duck = [
        con.execute("SELECT string_split(?, ' ')", [t]).fetchone()[0]
        for t in texts
    ]
    con.close()
    assert duck == py

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    rows = (
        df.select("i", F.explode(F.split("text", " ")).alias("tok"))
        .collect()
    )
    got = collections.defaultdict(list)
    for r in rows:
        got[r["i"]].append(r["tok"])
    # explode preserves array order within a row's output
    assert {i: toks for i, toks in enumerate(py)} == dict(got)


def test_norm_buckets_numpy_reference(spark):
    """emb_norm_buckets vs a numpy replay of the milli-quantize →
    integer Σq² → ⌊log₂⌋ bucket chain, exact at every column."""
    import numpy as np

    tab = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["embedding"])
    m = np.stack(tab["embedding"].to_numpy()).astype(np.float64)
    q = np.floor(m * 1000.0 + 0.5).astype(np.int64)
    norm2 = (q * q).sum(axis=1)
    buckets = collections.defaultdict(list)
    for v in norm2.tolist():
        buckets[max(int(v).bit_length() - 1, 0)].append(int(v))
    tot = len(norm2)
    rows = {r["bucket"]: r for r in _staged(spark, "emb_norm_buckets").collect()}
    assert sorted(rows) == sorted(buckets)
    for b, vals in buckets.items():
        r = rows[b]
        assert r["n_vecs"] == len(vals)
        assert r["min_norm2"] == min(vals)
        assert r["max_norm2"] == max(vals)
        assert r["share_bp"] == len(vals) * 10000 // tot


def test_norm_buckets_bit_length_identity():
    """The length(bin(n))−1 bucket equals int.bit_length()−1 for every
    positive int, and 0 maps to bucket 0 — the device's boundary pin
    (engine-free arithmetic)."""
    for v in (1, 2, 3, 4, 7, 8, 1023, 1024, 2**40 - 1, 2**40):
        assert len(bin(v)) - 2 - 1 == v.bit_length() - 1
    assert len(bin(0)) - 2 - 1 == 0  # '0b0' → length 1 → bucket 0


def test_ari_readability_pure_python_reference(spark):
    """docs_ari_readability vs a str.count replay with Python ints
    (exact), plus the float-ARI sanity band and the positivity
    invariant that justifies the single all-positive division."""
    tab = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    bands = [
        (500, "elementary"), (800, "middle_school"),
        (1200, "high_school"), (1600, "college"),
    ]
    got = {
        r["doc_id"]: r
        for r in _staged(spark, "docs_ari_readability").collect()
    }
    assert len(got) == tab.num_rows
    for i, t in zip(tab["doc_id"].to_pylist(), tab["text"].to_pylist()):
        spaces = t.count(" ")
        c = len(t) - spaces
        w = spaces + 1
        s = t.count(".")
        r = got[i]
        assert r["n_chars_ns"] == c and r["n_words"] == w
        assert r["n_sentences"] == s
        if s == 0:
            assert r["ari_centi"] is None and r["band"] == "unmeasurable"
            continue
        num = 471 * c * s + 50 * w * w
        assert num >= 0  # positivity is algebraic, not an offset
        ari = num // (w * s) - 2143
        assert r["ari_centi"] == ari
        ari_f = 4.71 * c / w + 0.5 * w / s - 21.43
        assert abs(ari / 100.0 - ari_f) <= 0.02
        band = next((b for lim, b in bands if ari <= lim), "graduate")
        assert r["band"] == band


def test_variable_type_mismatch_json_semantic_reference(spark):
    """tf_variable_type_mismatch vs a json.loads-based re-derivation
    over the fixture corpus: the default's KIND comes from actually
    parsing the value (semantic), not from the entry's leading-byte
    dispatch, and coercibility from float()/bool-word checks — so a
    byte-dispatch bug or a mis-encoded default would split the two."""
    import json
    import pathlib
    import re

    fix = pathlib.Path(__file__).resolve().parent / "fixtures" / "vartypes"
    want = {}
    for p in sorted(fix.glob("*.tf")):
        for blk in re.finditer(
            r'(?ms)^variable\s*"(\w+)"\s*\{(.*?)^\}', p.read_text()
        ):
            name, body = blk.group(1), blk.group(2)
            tm = re.search(r"(?m)^\s*type\s*=\s*(.+?)\s*$", body)
            dm = re.search(r"(?m)^\s*default\s*=\s*(.+?)\s*$", body)
            base = tm.group(1).split("(")[0].strip() if tm else None
            if dm is None:
                kind, val = None, None
            else:
                val = json.loads(dm.group(1))
                kind = {
                    str: "string", bool: "bool", int: "number",
                    float: "number", list: "list", dict: "map",
                }[type(val)]
            if base is None:
                status = "untyped"
            elif kind is None:
                status = "no_default"
            elif (
                base == "any" or base == kind
                or (base in ("list", "set", "tuple") and kind == "list")
                or (base in ("map", "object") and kind == "map")
            ):
                status = "match"
            elif base == "number" and kind == "string":
                try:
                    float(val)
                    status = "coercible"
                except ValueError:
                    status = "mismatch"
            elif base == "bool" and kind == "string" and val in (
                "true", "false"
            ):
                status = "coercible"
            elif base == "string" and kind in ("number", "bool"):
                status = "coercible"
            else:
                status = "mismatch"
            want[(p.name, name)] = (base, kind, status)
    got = {
        (r["file"], r["name"]):
            (r["base_type"], r["default_kind"], r["status"])
        for r in _staged(spark, "tf_variable_type_mismatch").collect()
    }
    assert got == want
    # the corpus genuinely exercises all five statuses
    assert {s for _, _, s in want.values()} == {
        "match", "coercible", "mismatch", "untyped", "no_default"
    }


def test_code_mix_pure_python_reference(spark):
    """docs_code_mix vs the str.count/str.translate classifier replay
    rolled up by lang — independent of the shared _code_flags frame and
    of the oracle's SQL."""
    tab = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["text", "lang"]
    )
    strip = str.maketrans("", "", "{}();=<>[]")
    per = collections.defaultdict(lambda: [0, 0])
    for t, lang in zip(tab["text"].to_pylist(), tab["lang"].to_pylist()):
        n_chars = len(t)
        n_sym = n_chars - len(t.translate(strip))
        n_lines = 1 + t.count("\n")
        sym_bp = n_sym * 10000 // n_chars if n_chars else 0
        indent_bp = (t.count("\n  ") * 10000) // n_lines
        per[lang][0] += 1
        per[lang][1] += int(sym_bp >= 300 or indent_bp >= 2000)
    got = {r["lang"]: r for r in _staged(spark, "docs_code_mix").collect()}
    assert sorted(got) == sorted(per)
    for lang, (n_docs, n_code) in per.items():
        r = got[lang]
        assert r["n_docs"] == n_docs and r["n_code"] == n_code
        assert r["code_share_bp"] == n_code * 10000 // n_docs


def test_stream_code_mix_equals_batch_code_mix(spark):
    """stream_code_mix_monitor ≡ docs_code_mix on the same corpus — the
    stream≡batch identity (complete-mode grid counts are monotone
    ADD-merges), checked on actual rows, not SQL."""
    batch = sorted(
        (r.asDict() for r in _staged(spark, "docs_code_mix").collect()),
        key=lambda d: d["lang"],
    )
    stream = sorted(
        (r.asDict() for r in _staged(spark, "stream_code_mix_monitor").collect()),
        key=lambda d: d["lang"],
    )
    assert batch == stream


def test_stream_norm_buckets_equals_batch(spark):
    """stream_norm_buckets_monitor ≡ emb_norm_buckets on the same
    corpus — the stream≡batch identity (complete-mode bucket grid
    merges count/min/max monotonically), checked on actual rows."""
    batch = sorted(
        (r.asDict() for r in _staged(spark, "emb_norm_buckets").collect()),
        key=lambda d: d["bucket"],
    )
    stream = sorted(
        (r.asDict()
         for r in _staged(spark, "stream_norm_buckets_monitor").collect()),
        key=lambda d: d["bucket"],
    )
    assert batch == stream and batch


def test_milli_quantize_device_three_engine_agreement(spark):
    """The f64 milli-quantize device behind emb_norm_buckets /
    emb_cov_top_eigen (CAST float→DOUBLE, floor(x·1000 + 0.5), BIGINT)
    fuzzed across Spark, DuckDB, and numpy on one seeded 400-value
    float32 corpus spanning signs, subnormal-ish magnitudes, exact
    halves, and the f32-vs-f64 promotion hazard band: the quantized
    integer must agree exactly on all three engines — the c62fc0b
    lesson (quantizing in DuckDB's f32 promotion split two sf0.1
    elements) as a standing regression test."""
    import random
    import struct

    import duckdb
    import numpy as np

    rng = random.Random(2026)
    vals = [0.0, -0.0, 0.0005, -0.0005, 0.0015, 1.0615, -1.0615]
    for _ in range(393):
        v = struct.unpack(
            "f", struct.pack("f", rng.uniform(-4.0, 4.0))
        )[0]
        vals.append(v)

    f32 = np.array(vals, dtype=np.float32)
    want = np.floor(f32.astype(np.float64) * 1000.0 + 0.5).astype(
        np.int64
    ).tolist()

    con = duckdb.connect()
    duck = [
        con.execute(
            "SELECT CAST(floor(CAST(CAST(? AS FLOAT) AS DOUBLE)"
            " * 1000 + 0.5) AS BIGINT)", [float(v)]
        ).fetchone()[0]
        for v in f32.tolist()
    ]
    con.close()
    assert duck == want

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(f32.tolist())],
        "i long, x float",
    )
    got = {
        r["i"]: r["q"]
        for r in df.select(
            "i",
            F.expr(
                "CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)"
            ).alias("q"),
        ).collect()
    }
    assert [got[i] for i in range(len(want))] == want


def test_bin_length_bucket_device_agreement(spark):
    """The length(bin(n))−1 log₂-bucket device (emb_norm_buckets,
    docs_zipf_slope) checked on every power-of-two boundary up to 2⁶²
    plus 0, across Spark, DuckDB, and int.bit_length(): off-by-one at
    a boundary would silently merge adjacent buckets."""
    import duckdb

    ns = [0, 1]
    for k in range(1, 63):
        ns += [2**k - 1, 2**k, 2**k + 1]
    want = [max(n.bit_length() - 1, 0) for n in ns]

    con = duckdb.connect()
    duck = [
        con.execute(
            "SELECT CAST(length(bin(CAST(? AS BIGINT))) - 1 AS BIGINT)",
            [n],
        ).fetchone()[0]
        for n in ns
    ]
    con.close()
    assert duck == want

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(ns)], "i long, n long"
    )
    got = {
        r["i"]: r["b"]
        for r in df.select(
            "i",
            F.expr("CAST(length(bin(n)) - 1 AS BIGINT)").alias("b"),
        ).collect()
    }
    assert [got[i] for i in range(len(ns))] == want


def test_stream_simpson_equals_batch_simpson(spark):
    """stream_simpson_monitor ≡ docs_simpson_diversity on the same
    corpus — the stream≡batch identity (complete-mode (lang, term)
    counts are monotone ADD-merges), checked on actual rows."""
    batch = sorted(
        (r.asDict()
         for r in _staged(spark, "docs_simpson_diversity").collect()),
        key=lambda d: d["lang"],
    )
    stream = sorted(
        (r.asDict()
         for r in _staged(spark, "stream_simpson_monitor").collect()),
        key=lambda d: d["lang"],
    )
    assert batch == stream and batch
