"""Print the driver surface, one ``<label> <name>`` line per entry.

    python3 tools/surface.py

Labels come in a fixed order: ``queries`` (``__spark_entry__.queries()``,
in driver order), ``ORACLES`` (sorted), ``HEADLINE`` and ``EXTENDED``
(``bench.py``'s lists, in bench order) and ``STAGED_QUERIES`` (sorted).
Ordered lists keep their order so that a reordering shows in a diff; the
others are sorted so that registration order does not. "Surface unchanged"
between two revisions is an empty ``diff`` of this output from each.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__  # noqa: E402
import bench  # noqa: E402
from steampipe_plugin_terraform_spark.catalog import (  # noqa: E402
    ORACLES,
    STAGED_QUERIES,
)


def main() -> None:
    for label, names in (
        ("queries", list(__spark_entry__.queries())),
        ("ORACLES", sorted(ORACLES)),
        ("HEADLINE", bench.HEADLINE),
        ("EXTENDED", bench.EXTENDED),
        ("STAGED_QUERIES", sorted(STAGED_QUERIES)),
    ):
        for name in names:
            print(label, name)


if __name__ == "__main__":
    main()
