"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator family from SURVEY.md §2
(relational core, events/time-series, terraform tables, LLM-pipeline
extensions), each a (spark, sf_dir) → DataFrame callable.
``oracle_sql()`` — the DuckDB-runnable ANSI SQL equivalent per query
(terraform queries use golden VALUES derived from the fixture corpus;
approx-distinct and the k-means IVF entries are rows-only by design —
HLL sketches and iterative clustering are engine-specific; simhash and
hyperplane-LSH oracles replay their full md5-deterministic pipelines).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from steampipe_plugin_terraform_spark.catalog import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# ROTATION: the driver's correctness gate checks the first 50 queries()
# entries each round, so with N entries every one must come back green
# within ceil(N/50) rounds. queries() derives that order from the committed
# CORRECTNESS_r*.json rows beside this file each time it is called:
# entries named in _CHANGED first (a green row from before the change proves
# nothing), then entries with no driver row, then the oldest last green
# round, ties by name. Entries past the window are value-checked locally by
# tests/test_oracle_parity.py (`make parity-sf001 parity-sf01`).
_CHANGED: tuple[str, ...] = (
    "emb_ivf_pq_topk",
    "emb_ivf_topk",
    "emb_pq_topk",
    "emb_two_level_topk",
)


def is_green(row: dict) -> bool:
    """A driver row is green if the full compare passed, or if the entry is
    rows-only by design (no oracle) and the Spark side produced a row count.
    A red row counts as checked but does not renew the entry's round."""
    if row.get("rows_match") is True:
        return bool(row.get("schema_match")) and bool(row.get("hash_match"))
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def correctness_history() -> dict[int, dict[str, dict]]:
    """Round number -> driver rows of the CORRECTNESS_r{N}.json beside this file."""
    out = {}
    for p in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            out[int(m.group(1))] = json.loads(p.read_text())
    return out


def validation_order(
    names: Iterable[str], history: dict[int, dict[str, dict]], changed: Iterable[str] = ()
) -> list[str]:
    """``names`` in driver-window order: ``changed`` first, then names with
    no row in ``history``, then by last green round (a name with rows but no
    green one counts as round 0), oldest first; ties by name. Rows for names
    not in ``names`` are ignored."""
    changed = set(changed)
    last_green: dict[str, int] = {}
    for rnd, rows in history.items():
        for name, row in rows.items():
            last_green[name] = max(last_green.get(name, 0), rnd if is_green(row) else 0)
    return sorted(
        names,
        key=lambda n: (n not in changed, n in last_green, last_green.get(n, 0), n),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in driver-window
    order (see ``validation_order``)."""
    return {n: QUERIES[n] for n in validation_order(QUERIES, correctness_history(), _CHANGED)}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omissions get the rows-only check."""
    return dict(ORACLES)
