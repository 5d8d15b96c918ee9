"""docs/OPERATORS.md must list every queries() entry with the right check
mark (✓O iff the entry has a DuckDB oracle) and exactly the staged entries
as ⧖O rows. Catches stale-docs drift."""

import re
from pathlib import Path

from steampipe_plugin_terraform_spark.catalog import (
    ORACLES,
    QUERIES,
    STAGED_QUERIES,
)

DOC = Path(__file__).resolve().parents[1] / "docs" / "OPERATORS.md"
README = Path(__file__).resolve().parents[1] / "README.md"


def test_operators_md_lists_every_entry_with_correct_mark():
    text = DOC.read_text()
    rows = dict(re.findall(r"^\| `([a-z0-9_]+)` \| (✓O|✓R) \|", text, re.M))
    staged = set(re.findall(r"^\| `([a-z0-9_]+)` \| ⧖O \|", text, re.M))
    assert staged == set(STAGED_QUERIES), (
        f"docs/OPERATORS.md ⧖O rows {sorted(staged ^ set(STAGED_QUERIES))} "
        "disagree with the staged registry"
    )
    missing = sorted(set(QUERIES) - set(rows))
    stale = sorted(set(rows) - set(QUERIES))
    assert not missing, f"entries missing from docs/OPERATORS.md: {missing}"
    assert not stale, f"docs/OPERATORS.md rows for removed entries: {stale}"
    wrong = sorted(
        n for n, mark in rows.items() if (mark == "✓O") != (n in ORACLES)
    )
    assert not wrong, f"check mark disagrees with oracle presence: {wrong}"


def test_readme_counts_match_catalog():
    """README's catalog/staged counts must derive from the registries —
    the r10 verdict caught the staged count drifting after a late-staged
    entry (28 vs 29); this pins all three numbers to the code."""
    text = README.read_text()
    m = re.search(
        r"catalog\s+(\d+) named queries, (\d+) with DuckDB oracle SQL", text
    )
    assert m, "README catalog-count line not found"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries; catalog has {len(QUERIES)}"
    )
    assert int(m.group(2)) == len(ORACLES), (
        f"README says {m.group(2)} oracled; catalog has {len(ORACLES)}"
    )
    s = re.search(r"plus (\d+) staged entries", text)
    assert s, "README staged-count line not found"
    assert int(s.group(1)) == len(STAGED_QUERIES), (
        f"README says {s.group(1)} staged; registry has {len(STAGED_QUERIES)}"
    )


def test_every_staged_entry_is_benched_at_sf01():
    """Every staged entry must appear in bench.py's HEADLINE or EXTENDED
    list: the per-round solo bench at sf0.1 is the ONLY place staged
    code executes at 100× the parity SF before promotion, and it is
    what catches scale-only failures — the r13 brown-forsythe draft
    passed both parity SFs yet overflowed BIGINT (ANSI raise vs DuckDB
    HUGEINT — a failure-mode divergence) first at sf0.1. A one-time r13
    audit also executed all 91 promoted-but-unbenched entries at sf0.1
    clean; keeping NEW entries in the bench list keeps that property."""
    import bench
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    covered = set(bench.EXTENDED) | set(bench.HEADLINE)
    missing = sorted(set(STAGED_QUERIES) - covered)
    assert not missing, (
        f"staged entries absent from bench.py HEADLINE/EXTENDED: {missing}"
    )


def test_docs_name_only_live_or_staged_entries():
    """Every backticked entry-like name in the operator docs, prose
    included, must be a live or staged entry: deleting an entry without
    its mentions fails here, while the row check above covers only the
    table rows."""
    known = set(QUERIES) | set(STAGED_QUERIES)
    for doc in (DOC, DOC.with_name("ORACLE_DEVICES.md")):
        names = set(
            re.findall(
                r"`((?:q|emb|docs|dedup|media|stream|tf)_[a-z0-9_]+)`",
                doc.read_text(),
            )
        )
        assert names, f"no entry names found in {doc.name}"
        stale = sorted(names - known)
        assert not stale, f"{doc.name} names unknown entries: {stale}"
