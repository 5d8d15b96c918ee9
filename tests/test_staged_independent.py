"""Independent references: checks of catalog entries, live and staged,
that do NOT share machinery with their DuckDB oracles. Three kinds here:

- pure-Python references (chi2, BPE pairs, streaming top-k closure):
  the statistic recomputed from the parquet with Python ints /
  collections.Counter — no Spark expressions, no SQL, exact arithmetic;
- internal-consistency properties (cluster quality, ANN recall curve):
  relations between output columns that must hold by construction,
  recomputed in Python from the entry's own rows;
- engine identities (stream_state_serial_watch ≡ the batch answer).

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
    pattern)."""
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


def test_bin_length_bucket_device_agreement(spark):
    """The length(bin(n))−1 log₂-bucket device (``sketch.logbucket_expr``
    and docs_length_buckets' ``length(bin(n_tok))``) checked on every
    power-of-two boundary up to 2⁶²
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
