"""TerraformEngine: the seven reference tables as Spark DataFrames/views.

Execution model (SURVEY.md §7.2 step 1-2, designed for 100 TB / 1000
executors, tested on local[N]):

1. **Discovery** (driver): glob lists → concrete (path, kind) file rows
   (sources/discover.py — the tfConfigList analog).
2. **Scan**: the discovered local list IS the scan — nothing is listed
   twice — bin-packed by size into ``min(files, defaultParallelism, bytes
   // _SLICE_BYTES)`` slices (≥ 1). Only remote ``://`` roots (globs only
   Hadoop can list) go through ``spark.read.format("binaryFile")``.
3. **Parse** (executors, narrow): one ``mapInPandas`` stage reads each local
   file and turns every file into wide rows for every table it feeds
   (tfcore/rows.py). One parse per file total — vs the reference's
   parse-per-table-per-query with a global mutex (utils.go:35-36,256-257;
   SURVEY §4) — and NO shuffle anywhere in the pipeline: file → rows is
   embarrassingly parallel and scales linearly with executor count.
4. **Tables**: each of the seven tables is a column projection over the
   cached wide DataFrame; Catalyst prunes columns per query, and a
   ``WHERE path = ...`` filter on any view prunes like the reference's
   pushed qual. A small frame is one partition: each query, one task.

The wide frame is persisted on first materialization so repeat queries skip
the parse (the SDK-cache analog, go.mod:23,35 — but correct by construction
since our tables derive from one lineage).
"""

from __future__ import annotations

import os
import sys
import uuid
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources.discover import discover_files, file_size, pack_by_size
from .tfcore.rows import WIDE_COLUMNS, build_rows_for_file

# local bytes per parse slice: under ~0.2 s of parse (~0.9 µs/byte), less
# than a cold Python worker plus a shuffle on every later query
_SLICE_BYTES = 256 * 1024

_LONG_COLS = {"count", "start_line", "end_line"}
_BOOL_COLS = {"sensitive"}

WIDE_SCHEMA = T.StructType(
    [
        T.StructField(
            c,
            T.LongType() if c in _LONG_COLS else T.BooleanType() if c in _BOOL_COLS else T.StringType(),
            nullable=True,
        )
        for c in WIDE_COLUMNS
    ]
)

# Column projections per table, in the reference's declared order
# (SURVEY.md §1.4; table_terraform_*.go column lists).
TABLE_COLUMNS: dict[str, list[str]] = {
    "terraform_resource": [
        "name", "type", "mode", "address", "arguments", "attributes",
        "attributes_std", "count", "count_src", "for_each", "depends_on",
        "lifecycle", "provider", "start_line", "end_line", "source", "path",
    ],
    "terraform_data_source": [
        "name", "type", "arguments", "count", "count_src", "for_each",
        "depends_on", "provider", "start_line", "end_line", "source", "path",
    ],
    "terraform_provider": [
        "name", "arguments", "alias", "version", "start_line", "end_line",
        "source", "path",
    ],
    "terraform_module": [
        "name", "module_source", "version", "arguments", "count", "count_src",
        "for_each", "depends_on", "provider", "start_line", "end_line",
        "source", "path",
    ],
    "terraform_output": [
        "name", "value", "description", "sensitive", "depends_on",
        "start_line", "end_line", "source", "path",
    ],
    "terraform_local": [
        "name", "value", "start_line", "end_line", "source", "path",
    ],
    "terraform_variable": [
        "name", "type", "default_value", "description", "sensitive",
        "validation", "start_line", "end_line", "source", "path",
    ],
}

TABLE_NAMES = list(TABLE_COLUMNS)

# proto JSON columns (SURVEY §1.2) — canonical JSON strings by default,
# convertible to Spark 4 VariantType on request
JSON_COLUMNS = {
    "arguments", "attributes", "attributes_std", "count_src", "for_each",
    "depends_on", "lifecycle", "value", "default_value",
}


def _normalize_path(uri: str) -> str:
    """binaryFile reports file:-scheme URIs; the path column is plain."""
    if uri.startswith("file:"):
        rest = uri[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return uri


def _make_parse_fn(on_error: str, default_kind: str = "config"):
    """Arrow-batched parse stage: (path, content[, file_kind]) batches →
    wide-row batches; a NULL ``content`` is a local file the task reads.

    Kind arrives as a COLUMN (set per source list before the read), never by
    matching path strings — executor-visible URIs (file:-scheme, expanded
    remote globs) need not round-trip to the driver's spelling. No shared
    mutable parser state, so files parse fully in parallel (the reference
    serializes every parse behind a global mutex, utils.go:35-36)."""
    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[dict] = []
            kinds = pdf["file_kind"] if "file_kind" in pdf.columns else [default_kind] * len(pdf)
            for uri, content, kind in zip(pdf["path"], pdf["content"], kinds):
                path = _normalize_path(uri)
                try:
                    if content is None:
                        with open(path, "rb") as fh:
                            content = fh.read()
                    text = bytes(content).decode("utf-8", errors="replace")
                    rows.extend(build_rows_for_file(path, kind, text))
                except FileNotFoundError:  # vanished since discovery (utils.go:87-90)
                    continue
                except Exception as e:  # parse/build failure
                    if on_error == "fail":
                        # name the file, like the reference's
                        # "failed to parse file %s" errors
                        raise RuntimeError(f"failed to parse file {path}: {e}") from e
                    print(f"[terraform-spark] skipping {path}: {e}", file=sys.stderr)
            yield pd.DataFrame(rows, columns=WIDE_COLUMNS)

    return parse


class TerraformEngine:
    """Parse-once / derive-seven-tables engine over Terraform artifacts."""

    def __init__(
        self,
        spark: SparkSession,
        config_paths: list[str] | tuple = (),
        plan_paths: list[str] | tuple = (),
        state_paths: list[str] | tuple = (),
        path_qual: str | None = None,
        on_error: str = "fail",
        cache: bool = True,
        watch: bool = False,
        watch_interval: float = 1.0,
    ):
        self.spark = spark
        self._source_lists = (tuple(config_paths), tuple(plan_paths), tuple(state_paths), path_qual)
        auth: dict[str, str] = {}
        self.files = discover_files(
            config_paths, plan_paths, state_paths, path_qual, auth_sink=auth
        )
        if auth:  # per-path ?aws_profile=/?region= → per-bucket S3A confs,
            # applied before the first read (reference docs/index.md:227-268)
            from .sources.discover import apply_s3a_auth

            apply_s3a_auth(spark, auth)
        self.on_error = on_error
        self._cache = cache
        self._wide: DataFrame | None = None
        self._slices = 1  # local parse slices of the last full build
        self._views_json_as: str | None = None
        self.watcher = None
        self._watch_thread = None
        self._watch_stop = None
        if watch:
            self.start_watch(watch_interval)

    # -- watch wiring (the reference's `steampipe:"watch"` tags,
    #    connection_config.go:8-11: path lists are watched automatically;
    #    here the same behavior is one constructor flag) --

    def start_watch(self, interval: float = 1.0):
        """Start background change detection over the engine's path lists.

        Mirrors the reference SDK's automatic fsnotify watch on
        ``steampipe:"watch"``-tagged config fields: added / modified /
        deleted files trigger an incremental ``refresh`` (only changed files
        re-parse) and registered views re-register. Poll-based (see
        ``TerraformWatcher``), driver-only, daemon thread — a failed refresh
        leaves the snapshot untouched so the delta retries next tick, and
        the watcher records it in ``last_error`` and
        ``consecutive_failures`` (reset by the next successful poll).
        Returns the watcher; idempotent while already running.
        """
        import threading

        from .streaming.watch import TerraformWatcher

        if self._watch_thread is not None:
            return self.watcher
        watcher = self.watcher = TerraformWatcher(self)
        stop = self._watch_stop = threading.Event()

        # closure holds the Event and watcher directly: stop_watch() nulls
        # the attributes after a join timeout, and a loop reading them would
        # die on AttributeError mid-poll instead of exiting cleanly
        def _loop() -> None:
            while not stop.wait(interval):
                try:
                    watcher.poll()
                except Exception as e:  # keep watching; poll retries the delta
                    watcher.last_error = e
                    watcher.consecutive_failures += 1
                else:
                    watcher.consecutive_failures = 0

        self._watch_thread = threading.Thread(
            target=_loop, daemon=True, name="terraform-watch"
        )
        self._watch_thread.start()
        return self.watcher

    def stop_watch(self) -> None:
        """Stop the background watch thread (no-op if not watching)."""
        if self._watch_thread is None:
            return
        self._watch_stop.set()
        self._watch_thread.join(timeout=30)
        self._watch_thread = None
        self._watch_stop = None
        self.watcher = None  # public handle must not read as active

    # -- connection-config constructors (connection_config.go, terraform.spc) --

    @classmethod
    def with_defaults(cls, spark: SparkSession, base_dir: str | None = None, **kw) -> "TerraformEngine":
        """Out-of-box engine mirroring the reference's default connection:
        ``*.tf`` / ``tfplan.json``+``*.tfplan.json`` / ``*.tfstate`` resolved
        against ``base_dir`` (default CWD) — config/terraform.spc:23-25."""
        from .sources.config import TerraformConnectionConfig

        return cls.from_config(spark, TerraformConnectionConfig(), base_dir=base_dir, **kw)

    @classmethod
    def from_config(
        cls,
        spark: SparkSession,
        config: "TerraformConnectionConfig",
        base_dir: str | None = None,
        **kw,
    ) -> "TerraformEngine":
        c, p, s = config.resolve(base_dir)
        return cls(spark, config_paths=c, plan_paths=p, state_paths=s, **kw)

    @classmethod
    def from_spc(
        cls,
        spark: SparkSession,
        spc_path: str,
        connection: str | None = None,
        base_dir: str | None = None,
        **kw,
    ) -> "TerraformEngine":
        """Engine from a Steampipe ``.spc`` connection file (HCL), so a
        migrating reference user can point at their existing config."""
        from .sources.config import load_spc

        return cls.from_config(spark, load_spc(spc_path, connection), base_dir=base_dir, **kw)

    # -- core lineage --

    def _files_df(self, files: list[tuple[str, str]]) -> tuple[DataFrame, int]:
        """(path, content, file_kind) rows for the parse stage, and the local
        slice count. Local files are a local relation (its row-count size
        estimate keeps joins broadcastable) with NULL content for the parse
        task to read, coalesced from the slices Spark cuts into ``min(files,
        defaultParallelism, bytes // _SLICE_BYTES)`` (≥ 1) size-packed ones.
        Remote ``://`` roots are globs only Hadoop can list: binaryFile."""
        import pyarrow as pa

        local = [(p, k, file_size(p)) for p, k in files if "://" not in p]
        cut = min(len(local), self.spark.sparkContext.defaultParallelism)
        n = max(1, min(cut, sum(s for _, _, s in local) // _SLICE_BYTES))
        rows = [f for b in pack_by_size(local, n, size=lambda f: f[2], slices=cut) for f in b]
        # cached plans match by content: a per-build id stops a re-read of
        # changed files being served an older cached parse of the same paths
        table = pa.table({"path": [p for p, _, _ in rows], "content": pa.nulls(len(rows), pa.binary()),
                          "file_kind": [k for _, k, _ in rows], "build": [uuid.uuid4().hex] * len(rows)})
        out = self.spark.createDataFrame(table, "path string, content binary, file_kind string, build string")
        out = out.drop("build").coalesce(n)
        for kind in ("config", "plan", "state"):
            paths = [p for p, k in files if k == kind and "://" in p]
            if paths:
                out = out.unionByName(
                    self.spark.read.format("binaryFile")
                    .load(paths)
                    .select("path", "content", F.lit(kind).alias("file_kind"))
                )
        return out, n

    def _parse(self, files_df: DataFrame) -> DataFrame:
        return files_df.mapInPandas(_make_parse_fn(self.on_error), schema=WIDE_SCHEMA)

    def wide(self) -> DataFrame:
        """The canonical wide DataFrame all seven tables derive from."""
        if self._wide is None:
            files_df, self._slices = self._files_df(self.files)
            df = self._parse(files_df)
            if self._cache:
                df = df.persist()
            self._wide = df
        return self._wide

    def refresh(self, changed_paths=None) -> None:
        """Re-discover sources and bring the wide frame up to date — the
        reference's watch re-scan (connection_config.go:8-11 fsnotify via
        ``steampipe:"watch"`` tags; SURVEY §2 S6).

        ``changed_paths``: optional iterable of local file paths known to
        have been added/modified/deleted (e.g. from TerraformWatcher). When
        given and a cached wide frame exists, ONLY those files re-parse:
        surviving rows are kept from cache, so a one-file edit in a
        million-file corpus costs one parse + a cheap cached filter, not a
        full re-scan. Changed files are read inside the parse task, as on
        ingest, so no ``refreshByPath`` is needed (it would drop the cached
        wide frame we are reusing). A changed REMOTE object, or
        ``changed_paths=None``, falls back to a full lazy rebuild.

        Registered temp views are re-registered so ``spark.sql`` callers see
        the refreshed tables without re-calling ``register_views``.
        """
        old = self._wide
        cfg, plan, state, qual = self._source_lists
        auth: dict[str, str] = {}
        self.files = discover_files(cfg, plan, state, qual, auth_sink=auth)
        if auth:
            from .sources.discover import apply_s3a_auth

            apply_s3a_auth(self.spark, auth)
        # binaryFile (remote roots) lists through Spark's FileStatusCache,
        # which pins each file's LENGTH from its first listing, so a re-read
        # of a grown object would truncate. Drop the listing cache
        # (metadata only — persisted DataFrames are untouched).
        try:
            # the Scala companion object has no static forwarder for this
            # method, so it must be addressed explicitly via $.MODULE$
            jvm = self.spark._jvm
            companion = getattr(
                jvm, "org.apache.spark.sql.execution.datasources.FileStatusCache$"
            )
            getattr(companion, "MODULE$").resetForTesting()
        except Exception:
            pass  # no JVM access (connect mode): stale listings possible
        changed = (
            None
            if changed_paths is None
            else {os.path.abspath(os.path.expanduser(p)) if "://" not in p else p for p in changed_paths}
        )
        incremental = (
            old is not None
            and self._cache
            and changed is not None
            and not any("://" in p for p in changed)
        )
        if old is None:
            pass  # nothing materialized yet; next wide() sees the new list
        elif not incremental:
            # no cache to reuse rows from (or remote change we can't stat) —
            # full lazy rebuild, like the reference's re-scan
            self._wide = None
            old.unpersist()
        else:
            keep = old.filter(~F.col("path").isin(list(changed)))
            reparse = [(p, k) for p, k in self.files if p in changed]
            # a changed file that vanished since discovery parses to zero
            # rows, which is right: its old rows are already out of `keep`
            df = keep.unionByName(self._parse(self._files_df(reparse)[0])) if reparse else keep
            df = df.coalesce(self._slices).persist()  # bounded: the build's slices
            df.count()  # materialize from the old cache BEFORE dropping it
            self._wide = df
            old.unpersist()
        if self._views_json_as is not None:
            self.register_views(json_as=self._views_json_as)

    # -- public surface --

    def table(self, name: str, path: str | None = None, json_as: str = "string") -> DataFrame:
        """One of the seven tables; optional ``path`` equals-qual filter.

        ``json_as="variant"`` converts the proto-JSON columns to Spark 4
        VariantType (binary-encoded semi-structured values: typed access via
        ``variant_get``/``col:path`` without per-query string re-parsing —
        the scale-friendly representation for JSON-heavy analytics).
        """
        if name not in TABLE_COLUMNS:
            raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
        if json_as not in ("string", "variant"):
            raise ValueError(f"json_as must be 'string' or 'variant', got {json_as!r}")
        cols = [
            F.parse_json(F.col(c)).alias(c)
            if json_as == "variant" and c in JSON_COLUMNS
            else F.col(c)
            for c in TABLE_COLUMNS[name]
        ]
        df = self.wide().filter(F.col("tf_table") == name).select(*cols)
        if path is not None:
            if "://" not in path:
                # same normalization as discovery, so relative/~ quals match
                # the absolute form stored in the path column
                path = os.path.abspath(os.path.expanduser(path))
            df = df.filter(F.col("path") == path)
        return df

    def tables(self, json_as: str = "string") -> dict[str, DataFrame]:
        return {name: self.table(name, json_as=json_as) for name in TABLE_COLUMNS}

    def register_views(self, json_as: str = "string") -> None:
        """Register all seven tables as temp views for ``spark.sql``."""
        self._views_json_as = json_as
        for name, df in self.tables(json_as=json_as).items():
            df.createOrReplaceTempView(name)

    def unpersist(self) -> None:
        if self._wide is not None:
            self._wide.unpersist()
            self._wide = None

    # -- canonical store (parse once, persist forever) --

    def save_canonical(self, path: str) -> None:
        """Write the wide frame as Parquet partitioned by ``tf_table`` —
        the durable parse-once store. Repeat analytic sessions load it with
        ``load_canonical`` and get partition pruning per table plus Parquet
        min/max pruning for free (SCALE.md); re-parse only on refresh."""
        self.wide().write.mode("overwrite").partitionBy("tf_table").parquet(path)

    @classmethod
    def load_canonical(cls, spark: SparkSession, path: str) -> "TerraformEngine":
        """Engine over a previously saved canonical store (no parsing)."""
        eng = cls(spark, cache=False)
        df = spark.read.parquet(path)
        # stores written before file_kind joined the wide layout load with
        # the column NULL (kind is unrecoverable post-parse). Both drift
        # audits filter on file_kind == 'config'/'state'/'plan', so a
        # legacy store contributes ZERO rows to every side — re-save the
        # store from a fresh parse before auditing drift (the limitation
        # is documented in _config_state_drift_frame / tf_plan_state_drift)
        if "file_kind" not in df.columns:
            df = df.withColumn("file_kind", F.lit(None).cast("string"))
        # partition column comes back; reorder to the wide layout
        eng._wide = df.select(*WIDE_COLUMNS)
        return eng
