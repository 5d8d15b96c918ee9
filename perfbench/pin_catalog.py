"""Record the row count and digest of each catalog_mix entry.

    python3 perfbench/pin_catalog.py ENTRY [ENTRY ...]

Run once, at the commit whose outputs define correct, from the root of a
checkout; it writes ``perfbench/catalog_pins.json``.  Each entry runs twice
in one session and must give the same digest both times.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench


def main(names: list[str]) -> int:
    sys.path.insert(0, bench.ROOT)
    from spans import Tracer
    from steampipe_plugin_terraform_spark.catalog import QUERIES

    run_dir = os.path.join(bench.WORK, f"pin-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    bench.configure(run_dir)
    spark, _ = bench.start_session(Tracer())
    data = os.path.join(bench.HERE, "data")
    pins = {}
    try:
        for name in sorted(names):
            first = bench.digest(QUERIES[name](spark, data).collect())
            again = bench.digest(QUERIES[name](spark, data).collect())
            if first != again:
                print(f"{name}: digest differs between two runs", file=sys.stderr)
                return 1
            pins[name] = {"rows": first[0], "digest": first[1]}
    finally:
        bench.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(bench.HERE, "catalog_pins.json"), "w") as f:
        json.dump({"data": "perfbench/data: copies of the sf0.01 test tables these "
                           "entries read (lineitem, events, embeddings, documents)",
                   "entries": pins}, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
