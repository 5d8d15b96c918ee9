"""The driver-window rotation invariant, checked against the derived order.

The driver's correctness gate checks the first 50 ``queries()`` entries
each round. ``__spark_entry__.validation_order`` derives that order from the
committed ``CORRECTNESS_r*.json`` history, so the invariant ("never-checked
entries occupy the window front; no entry's last green driver row falls
outside the rotation horizon") holds by construction. These tests check it
on the committed history and on simulated future rounds.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entry_mod
from __spark_entry__ import is_green, validation_order

WINDOW = 50  # driver checks the first 50 queries() entries
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {"rows_match": False, "schema_match": True, "hash_match": False, "err": None}


def _stale(order: list[str], history: dict[int, dict]) -> list[tuple[str, int | None]]:
    """Entries whose effective driver round (the upcoming round if they sit
    in the next window, else their last green row) falls outside the
    rotation horizon ceil(catalog/window) of the upcoming round. A
    never-checked entry outside the upcoming window always counts: it has
    no effective round at all."""
    last_green: dict[str, int] = {}
    for rnd, rows in history.items():
        for name, row in rows.items():
            if is_green(row):
                last_green[name] = max(last_green.get(name, 0), rnd)
    upcoming = max(history, default=0) + 1
    floor_round = upcoming - math.ceil(len(order) / WINDOW) + 1
    window = set(order[:WINDOW])
    stale = []
    for name in order:
        eff = upcoming if name in window else last_green.get(name)
        if eff is None or eff < floor_round:
            stale.append((name, eff))
    return stale


@pytest.fixture(scope="module")
def state():
    hist = entry_mod.correctness_history()
    assert hist, "no CORRECTNESS_r*.json committed — cannot audit rotation"
    checked = {name for rows in hist.values() for name in rows}
    return {"order": list(entry_mod.queries()), "checked": checked, "history": hist}


def test_never_checked_entries_sort_before_checked(state):
    """Rotation priority rule 2: an entry with no driver row in any
    committed CORRECTNESS file must sort before every entry that has one
    — otherwise a driver slot re-verifies a known row while an unknown
    one stays unknown."""
    order, checked = state["order"], state["checked"]
    first_checked = next(
        (i for i, name in enumerate(order) if name in checked), len(order)
    )
    misordered = [n for n in order[first_checked:] if n not in checked]
    assert not misordered, (
        f"never-driver-checked entries sorted after checked ones: {misordered}"
    )


def test_horizon_holds(state):
    """Every entry is green within the horizon or holds a slot in the
    upcoming window."""
    stale = _stale(state["order"], state["history"])
    assert not stale, f"entries outside the rotation horizon: {stale}"


def test_derived_window_rotates_within_horizon(state, monkeypatch):
    """Replay the committed history, then let the driver check the window
    queries() gives for 12 more rounds, every entry of it coming back green:
    the horizon holds after each round and the window moves on. The edge
    cases of the rule are checked on the pure function and through
    queries()."""
    names = sorted(entry_mod.QUERIES)
    assert set(state["order"]) == set(names) and len(state["order"]) == len(names)
    assert set(entry_mod._CHANGED) <= set(names), "_CHANGED names unknown entries"

    history = dict(state["history"])
    monkeypatch.setattr(entry_mod, "correctness_history", lambda: history)
    seen_windows = []
    for _ in range(12):
        order = list(entry_mod.queries())
        assert not _stale(order, history), f"horizon broken before round {max(history) + 1}"
        window = order[:WINDOW]
        assert window not in seen_windows, "the window did not rotate"
        seen_windows.append(window)
        history[max(history) + 1] = {name: GREEN for name in window}
    assert not _stale(list(entry_mod.queries()), history)

    # an empty history: every entry never checked, so name order after
    # the _CHANGED names
    history.clear()
    changed = sorted(entry_mod._CHANGED)
    assert list(entry_mod.queries()) == changed + [n for n in names if n not in changed]

    # a red row does not renew an entry's round; rows but no green one is round 0
    a, b, c = "a", "b", "c"
    hist = {1: {a: GREEN, b: GREEN, c: GREEN}, 2: {b: GREEN}, 3: {a: RED}}
    assert validation_order([a, b, c], hist) == [a, c, b]
    assert validation_order([a, b, c], {1: {a: GREEN, b: GREEN, c: RED}}) == [c, a, b]

    # a history row for a deleted entry is ignored
    assert validation_order([b, c], {1: {a: GREEN, b: GREEN}, 2: {c: GREEN}}) == [b, c]

    # a _CHANGED name sorts first, ahead of never-checked ones
    assert validation_order([a, b, c], {1: {c: GREEN}}, changed=(c,)) == [c, a, b]
    history.update(state["history"])
    last = list(entry_mod.queries())[-1]
    monkeypatch.setattr(entry_mod, "_CHANGED", (last,))
    assert list(entry_mod.queries())[0] == last
