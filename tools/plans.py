"""Print one ``<name> <sha256>`` line per live and staged catalog entry: the
digest of its executed plan at sf0.001 on ``local[4]``.

    python3 tools/plans.py [sf_dir]

Entries run in name order in one session (``local[4]``, four shuffle
partitions, the Tier-1 suite's settings), so session state builds the same
way in every run. Before hashing, the parts of ``executedPlan().toString()``
that change from process to process are masked: expression ids (``#123``,
``#123L``), ``plan_id=``, exchange ``[id=…]``, the ``state.temp_root``
directories, 32-hex uuids and this checkout's own path. "Plans unchanged"
between two revisions is an empty ``diff`` of this output from each. An entry
that raises prints ``<name> raised:<type>`` and the exit status is 1.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_MASKS = (
    (re.compile(r"#\d+L?\b"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[id=#?\d+\]"), "[id=]"),
    (re.compile(r"\b[0-9a-f]{32}\b"), "<uuid>"),
)


def mask(plan: str, roots: list[str]) -> str:
    for root in roots:
        plan = plan.replace(root, "<temp_root>")
    plan = plan.replace(ROOT, "<repo>")
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])

    from pyspark.sql import SparkSession

    from steampipe_plugin_terraform_spark import state
    from steampipe_plugin_terraform_spark.catalog import QUERIES, STAGED_QUERIES
    from steampipe_plugin_terraform_spark.session import DAEMON_MODULE, create

    roots: list[str] = []
    temp_root = state.temp_root

    def recorded(prefix: str) -> str:
        roots.append(temp_root(prefix))
        return roots[-1]

    state.temp_root = recorded
    spark = create(
        SparkSession.builder.appName("tf-spark-plans")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.ui.enabled", "false")
        # file lists print whole, not cut at 100 characters, so the
        # checkout's path is masked the same wherever it lives
        .config("spark.sql.maxMetadataStringLength", "1000000"),
        "4g",
    )
    spark.sparkContext.setLogLevel("ERROR")
    entries = {**QUERIES, **STAGED_QUERIES}
    failed = 0
    try:
        for name in sorted(entries):
            try:
                plan = entries[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            except Exception as exc:  # noqa: BLE001 - report and go on
                failed += 1
                print(name, f"raised:{type(exc).__name__}", flush=True)
                continue
            print(name, hashlib.sha256(mask(plan, roots).encode()).hexdigest(), flush=True)
    finally:
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
