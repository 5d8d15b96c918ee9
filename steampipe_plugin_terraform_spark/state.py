"""Session state: the one owner of everything the catalog keeps between calls.

Some catalog entries reuse work across invocations in one Spark session:
prepared table scans, k-means assignments, PQ codes, the duplicate-cluster
map, IVF/LSH/z-order/bucketed stores and stream sinks with their
checkpoints. Every such value lives here under one key,
``(applicationId, kind, key)``. ``key`` starts from ``corpus_digest(sf_dir)``
(plus whatever fields the entry needs; the minhash posting base, which only
sees a DataFrame, uses its plan's ``semanticHash``), so two corpora never
share an entry and a new session never sees an old one. ``stats`` reports
what a session holds; ``clear`` drops it, and the next call rebuilds.

Rules every builder follows:

- Row data is materialized with a ``localCheckpoint``, never with
  ``.persist()``. A persisted plan enters Spark's cache manager, which
  plan-matches it inside *other* entries' plans and silently changes their
  shapes; a checkpointed frame only reaches plans built from the returned
  object. Checkpoint only at four or more reuses: below that the extra job
  costs more than the recompute it saves.
- On-disk state goes under a ``temp_root``, removed at interpreter exit.

``get`` itself materializes nothing: each builder decides how.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections import Counter
from typing import Any, Callable

_ENTRIES: dict[tuple, Any] = {}  # (appId, kind, key) -> value
_BUILDS: Counter = Counter()  # (appId, kind) -> builds
_HITS: Counter = Counter()  # (appId, kind) -> hits


def corpus_digest(sf_dir: str) -> str:
    """Stable 8-hex digest of a corpus directory's absolute path. It keys
    and names per-corpus state, so the contract is per path: an in-place
    rewrite of a corpus keeps serving the state built from it."""
    return hashlib.md5(os.path.abspath(sf_dir).encode("utf-8")).hexdigest()[:8]


def get(spark, kind: str, key, build: Callable[[], Any]) -> Any:
    """This session's ``kind`` entry for ``key``; ``build()`` runs only on a
    miss, and a build that raises stores nothing."""
    app = spark.sparkContext.applicationId
    full = (app, kind, key)
    if full in _ENTRIES:
        _HITS[app, kind] += 1
        return _ENTRIES[full]
    value = _ENTRIES[full] = build()
    _BUILDS[app, kind] += 1
    return value


def temp_root(prefix: str) -> str:
    """A fresh directory for on-disk state, removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def stats(spark) -> dict[str, dict[str, int]]:
    """``{kind: {"entries", "builds", "hits"}}`` for this session."""
    app = spark.sparkContext.applicationId
    entries = Counter(kind for a, kind, _ in _ENTRIES if a == app)
    return {
        kind: {"entries": entries[kind], "builds": n, "hits": _HITS[app, kind]}
        for (a, kind), n in sorted(_BUILDS.items())
        if a == app
    }


def clear(spark, kind: str | None = None) -> None:
    """Drop this session's entries (of one ``kind``, or all) and their
    counts; the next call rebuilds."""
    app = spark.sparkContext.applicationId
    for table in (_ENTRIES, _BUILDS, _HITS):
        for k in [k for k in table if k[0] == app and kind in (None, k[1])]:
            del table[k]
