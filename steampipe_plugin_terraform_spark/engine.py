"""TerraformEngine: the seven reference tables as Spark DataFrames/views.

Execution model (SURVEY.md §7.2 step 1-2, designed for 100 TB / 1000
executors, tested on local[N]):

1. **Discovery** (driver): glob lists → concrete (path, kind) file rows
   (sources/discover.py — the tfConfigList analog).
2. **Scan**: the discovered local list IS the scan — nothing is listed
   twice — bin-packed by size into ``min(files, defaultParallelism, bytes
   // SLICE_BYTES)`` slices (≥ 1; ``parallel.slices``, shared with the
   Arrow-batched operators). Only remote ``://`` roots (globs only Hadoop
   can list) go through ``spark.read.format("binaryFile")``.
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

The wide frame is a ``localCheckpoint``, filled by its first action, so
repeat queries skip the parse (the SDK-cache analog, go.mod:23,35 — but
correct by construction since our tables derive from one lineage). Like
every store of session state (``state.py``), it never enters Spark's cache
manager: views scan its blocks as ``Scan ExistingRDD``, with no per-query
cached-scan stage. An incremental refresh checkpoints the next generation
from the current one, so a view's plan is one node deep after any number
of watch ticks. A frame stays readable through one refresh; the
generation before it is released then.

The first ingest of a session pays for little besides the parse itself:
``get_spark``'s Python workers fork from ``daemon.py`` with pyspark (from
cached bytecode), pandas, pyarrow and this module already imported, and
the parse stage's input has a ``StructType`` schema, so Spark's SQL parser
never starts. The HCL tokenizer consumes runs of plain characters with
precompiled regexes rather than one character at a time.
"""

from __future__ import annotations

import os
import sys
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parallel import slices
from .sources.discover import apply_s3a_auth, discover_files, file_size, pack_by_size
from .tfcore.rows import WIDE_COLUMNS, build_rows_for_file

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

# rows of the parse stage's input; a StructType, not a DDL string, which
# would start Spark's SQL parser on the first ingest of a session
_FILES_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("file_kind", T.StringType()),
])

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


def _reset_listing_cache(spark: SparkSession) -> None:
    """Drop Spark's FileStatusCache. Path reads list through it, and it pins
    each file's LENGTH from its first listing, so a re-read of a grown
    object would truncate (metadata only — persisted DataFrames are
    untouched)."""
    try:
        # the Scala companion object has no static forwarder for this
        # method, so it must be addressed explicitly via $.MODULE$
        companion = getattr(
            spark._jvm, "org.apache.spark.sql.execution.datasources.FileStatusCache$"
        )
        getattr(companion, "MODULE$").resetForTesting()
    except Exception:
        pass  # no JVM access (connect mode): stale listings possible


def _read_canonical(spark: SparkSession, path: str) -> DataFrame:
    """The wide frame of a canonical store (``save_canonical`` layout)."""
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
    return df.select(*WIDE_COLUMNS)


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
        if on_error not in ("fail", "skip"):
            raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
        self.spark = spark
        self._source_lists = (tuple(config_paths), tuple(plan_paths), tuple(state_paths), path_qual)
        self._discover()
        self.on_error = on_error
        self._cache = cache
        self._canonical_path: str | None = None  # set by load_canonical
        self._wide: DataFrame | None = None
        # checkpoint RDDs of the current generation and the one before it
        self._held: list = []
        # (wide frame, {(table, json_as): projection}) for the current frame
        self._projections: tuple = (None, {})
        self._slices = 1  # local parse slices of the last full build
        self._views_json_as: str | None = None
        self.watcher = None
        self._watch_thread = None
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
        re-parse) and registered views re-register. Poll-based and
        driver-only: a daemon thread runs ``TerraformWatcher.run``, which
        records a failed poll in the watcher's ``last_error`` and
        ``consecutive_failures`` and keeps watching. Returns the watcher;
        idempotent while already running.
        """
        import threading

        from .streaming.watch import TerraformWatcher

        if self._watch_thread is not None:
            return self.watcher
        watcher = self.watcher = TerraformWatcher(self)
        self._watch_thread = threading.Thread(
            target=watcher.run, args=(interval,), daemon=True, name="terraform-watch"
        )
        self._watch_thread.start()
        return self.watcher

    def stop_watch(self) -> None:
        """Stop the background watch thread (no-op if not watching)."""
        if self._watch_thread is None:
            return
        self.watcher.stop()
        self._watch_thread.join(timeout=30)
        self._watch_thread = None
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
        task to read, coalesced from the slices Spark cuts into
        ``parallel.slices`` of the local bytes, capped at the file count,
        size-packed.
        Remote ``://`` roots are globs only Hadoop can list: binaryFile."""
        import pyarrow as pa

        local = [(p, k, file_size(p)) for p, k in files if "://" not in p]
        cut = min(len(local), self.spark.sparkContext.defaultParallelism)
        n = slices(self.spark, sum(s for _, _, s in local), cut)
        rows = [f for b in pack_by_size(local, n, size=lambda f: f[2], slices=cut) for f in b]
        table = pa.table({"path": [p for p, _, _ in rows], "content": pa.nulls(len(rows), pa.binary()),
                          "file_kind": [k for _, k, _ in rows]})
        out = self.spark.createDataFrame(table, _FILES_SCHEMA).coalesce(n)
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
        """The canonical wide DataFrame all seven tables derive from. A
        cached engine checkpoints it lazily: the first action parses and
        stores the rows. The frame stays readable through one ``refresh``."""
        if self._wide is None:
            files_df, self._slices = self._files_df(self.files)
            df = self._parse(files_df)
            if self._cache:
                df = df.localCheckpoint(eager=False)
                self._hold(df)
            self._wide = df
        return self._wide

    def _hold(self, df: DataFrame) -> None:
        """Keep checkpointed ``df`` as the newest generation and release the
        one two before it: the generation just before ``df`` stays, so a
        query planned before the tick can still read its rows."""
        # a checkpointed frame's plan is one LogicalRDD over the stored RDD
        self._held.append(df._jdf.queryExecution().analyzed().rdd())
        while len(self._held) > 2:
            self._held.pop(0).unpersist(False)

    def refresh(self, changed_paths=None) -> None:
        """Re-discover sources and bring the wide frame up to date — the
        reference's watch re-scan (connection_config.go:8-11 fsnotify via
        ``steampipe:"watch"`` tags; SURVEY §2 S6).

        ``changed_paths``: optional iterable of local file paths known to
        have been added/modified/deleted (e.g. from TerraformWatcher). When
        given and a cached wide frame exists, ONLY those files re-parse:
        surviving rows are kept from the current checkpoint, and the next
        generation is checkpointed eagerly from them, so a one-file edit in
        a million-file corpus costs one parse + a filter of stored rows, not
        a full re-scan, and the plan does not grow tick over tick. Changed
        files are read inside the parse task, as on ingest, so no
        ``refreshByPath`` is needed. A changed REMOTE object, or
        ``changed_paths=None``, falls back to a full lazy rebuild. Either
        way the generation being replaced stays readable until the next
        refresh, and the one before it is released.

        An engine from ``load_canonical`` has no source lists: it re-reads
        its store instead, picking up rows a ``watch_to_canonical`` drain
        appended since the load.

        Registered temp views are re-registered so ``spark.sql`` callers see
        the refreshed tables without re-calling ``register_views``.
        """
        if self._canonical_path is not None:
            _reset_listing_cache(self.spark)
            self._wide = _read_canonical(self.spark, self._canonical_path)
        else:
            self._refresh_sources(changed_paths)
        if self._views_json_as is not None:
            self.register_views(json_as=self._views_json_as)

    def _discover(self) -> None:
        """List the source files into ``self.files``. Per-path
        ?aws_profile=/?region= become per-bucket S3A confs, applied before
        the next read (reference docs/index.md:227-268)."""
        auth: dict[str, str] = {}
        self.files = discover_files(*self._source_lists, auth_sink=auth)
        if auth:
            apply_s3a_auth(self.spark, auth)

    def _refresh_sources(self, changed_paths) -> None:
        old = self._wide
        self._discover()
        _reset_listing_cache(self.spark)
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
            # full lazy rebuild, like the reference's re-scan; wide()'s next
            # generation releases the one before `old`
            self._wide = None
        else:
            keep = old.filter(~F.col("path").isin(list(changed)))
            reparse = [(p, k) for p, k in self.files if p in changed]
            # a changed file that vanished since discovery parses to zero
            # rows, which is right: its old rows are already out of `keep`
            df = keep.unionByName(self._parse(self._files_df(reparse)[0])) if reparse else keep
            # bounded: the build's slices; stored from `old` while it is held
            df = df.coalesce(self._slices).localCheckpoint(eager=True)
            self._hold(df)
            self._wide = df

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
        # a projection is built once per generation: each column costs the
        # driver a JVM round trip, more than a small query runs for
        wide = self.wide()
        owner, built = self._projections
        if owner is not wide:
            built = {}
            self._projections = (wide, built)
        df = built.get((name, json_as))
        if df is None:
            cols = [
                F.parse_json(F.col(c)).alias(c)
                if json_as == "variant" and c in JSON_COLUMNS
                else F.col(c)
                for c in TABLE_COLUMNS[name]
            ]
            df = built[name, json_as] = wide.filter(F.col("tf_table") == name).select(*cols)
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
        """Release every checkpoint generation. Frames and views taken from
        them can no longer be read; the next ``wide()`` parses again. An
        engine that holds none (``cache=False``, ``load_canonical``) keeps
        its frame."""
        if self._held:
            self._wide = None
        while self._held:
            self._held.pop().unpersist(False)

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
        eng._canonical_path = path
        eng._wide = _read_canonical(spark, path)
        return eng
