"""Spark 4 Python Data Source exposing the HCL parser as ``format("hcl")``.

    from steampipe_plugin_terraform_spark.sources.hcl_datasource import (
        register_hcl_datasource,
    )
    register_hcl_datasource(spark)
    df = spark.read.format("hcl").load("infra/**/*.tf")

One row per top-level block — the parse spine as a first-class reader
(SURVEY §2 P1's "package as a Spark 4 Python Data Source" mapping):
``path, block_type, labels, body_json, start_line, end_line, source``.

Reference parity: the row shape carries the reference's per-row position +
source columns (``utils.go:268-298`` getBlock; every table's
``start_line/end_line/source``) while staying block-generic; the seven
typed tables remain ``TerraformEngine``'s job. Glob semantics (``*``/
``**``/``~``, missing paths tolerated as empty — ``utils.go:87-90``) come
from the same ``expand_glob`` the engine uses.

Scale notes:
- Files are globbed once on the driver and BIN-PACKED by size into input
  partitions (largest-first greedy), so one giant file cannot straggle a
  partition holding many small ones. ``numPartitions`` overrides the
  default (cpu count).
- Parsing runs executor-side, one Python worker per partition, freely
  parallel — the designed-out version of the reference's global parse
  mutex (``utils.go:35-36``). The driver holds only the file list.
- This reader serves LOCAL (driver-visible) paths, the reference's own
  operating mode. DFS-resident corpora (s3a://, hdfs://) go through
  ``TerraformEngine``'s binaryFile reader, which delegates listing and
  splits to the Hadoop layer.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_SCHEMA = (
    "path string, block_type string, labels array<string>, "
    "body_json string, start_line int, end_line int, source string"
)


class _FilesPartition(InputPartition):
    def __init__(self, files: list[str]):
        self.files = list(files)


class HclDataSource(DataSource):
    """``spark.read.format("hcl").load(glob)`` → one row per HCL block."""

    @classmethod
    def name(cls) -> str:
        return "hcl"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> "_HclReader":
        return _HclReader(self.options)


class _HclReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError(
                "format('hcl') requires a load path, e.g. "
                "spark.read.format('hcl').load('infra/*.tf') "
                "(comma-separate multiple globs)"
            )
        self._patterns = [p.strip() for p in path.split(",") if p.strip()]
        self._on_error = str(options.get("on_error", "fail")).lower()
        if self._on_error not in ("fail", "skip"):
            raise ValueError(f"on_error must be 'fail' or 'skip', got {self._on_error!r}")
        self._num_partitions = int(options.get("numpartitions", 0) or 0)

    def partitions(self):
        from .discover import expand_glob, pack_by_size

        files: list[str] = []
        for pat in self._patterns:
            files.extend(expand_glob(pat))
        files = sorted(set(files))
        if not files:
            # missing-path tolerance: empty scan, no error (utils.go:87-90)
            return [_FilesPartition([])]
        n = self._num_partitions or min(len(files), os.cpu_count() or 8)
        return [_FilesPartition(b) for b in pack_by_size(files, n)]

    def read(self, partition: _FilesPartition):
        from ..functions.jsonenc import canonical_json
        from ..hcl import parse_file

        for path in partition.files:
            try:
                with open(path, encoding="utf-8", errors="replace") as fh:
                    src = fh.read()
                blocks = parse_file(src)
            except FileNotFoundError:
                # vanished between driver glob and executor read — treat like
                # a missing glob path (empty), matching engine.refresh
                continue
            except Exception as e:
                if self._on_error == "skip":
                    continue
                raise RuntimeError(f"HCL parse failed for {path}: {e}") from e
            lines = src.split("\n")
            for blk in blocks:
                yield (
                    path,
                    blk.block_type,
                    list(blk.labels),
                    canonical_json(blk.body),
                    blk.start_line,
                    blk.end_line,
                    "\n".join(lines[blk.start_line - 1 : blk.end_line]),
                )


def register_hcl_datasource(spark) -> None:
    """Register ``format("hcl")`` on the session (idempotent)."""
    spark.dataSource.register(HclDataSource)
