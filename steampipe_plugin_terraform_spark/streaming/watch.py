"""Watch-mode: the reference's file-watching connection (S6) as a
Structured Streaming file source.

The reference tags its path config ``steampipe:"watch"`` and re-scans when
files change (connection_config.go:8-11, fsnotify). Spark's file stream
source natively picks up NEW files (``watch_terraform_blocks``);
modified/deleted-file re-read is not a file source concept, so
``TerraformWatcher`` supplies that half: a driver-side mtime/size poller
that re-discovers the engine's glob lists and triggers an INCREMENTAL
``engine.refresh(changed)`` — only changed files re-parse; unchanged rows
stay cached (SURVEY §2.8, §7.4 risk 6).

Scale: the stream stays narrow (text wholetext → mapInPandas parse), so
watch-mode throughput is bounded by executor count, not a driver mutex like
the reference's parseMutex.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import WIDE_SCHEMA, _make_parse_fn
from ..sources.discover import discover_files


def watch_terraform_blocks(
    spark: SparkSession,
    config_dir: str,
    kind: str = "config",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of wide table rows for every ``.tf`` file that
    appears under ``config_dir``.

    Returns an unbounded DataFrame; callers attach a sink
    (``.writeStream.format("memory")``, ``foreachBatch`` into the seven
    views, ...). File kind is fixed per watched dir (mirror of the three
    connection path lists); plan sniffing still promotes config files.
    """
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.tf" if kind == "config" else "*")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(config_dir).select(
        F.col("_metadata.file_path").alias("path"),
        F.encode(F.col("value"), "utf-8").alias("content"),
    )
    # every file discovered by this stream carries the watched dir's kind
    parse = _make_parse_fn(on_error="skip", default_kind=kind)
    return files.mapInPandas(parse, schema=WIDE_SCHEMA)


class TerraformWatcher:
    """fsnotify parity for an engine: detect added / modified / deleted
    files under the engine's configured glob lists and refresh only those.

    The reference registers its four path lists with ``steampipe:"watch"``
    (connection_config.go:8-11) and the SDK re-scans on any fsnotify event.
    We poll mtime_ns+size instead of using inotify so the watcher works on
    every FS Python can stat (NFS, bind mounts, containers) with zero extra
    dependencies; the cost is one driver-side glob per poll, which is the
    same work the reference's re-scan does.

    Scale: the poll itself is driver-only and proportional to the file
    *count*, not data size; the refresh re-parses only the changed files
    (``engine.refresh(changed)``), so steady-state watch cost is
    O(changed files) cluster work per tick.
    """

    def __init__(self, engine):
        self.engine = engine
        self._snap = self._scan()
        # health of the background loop (``engine.start_watch``)
        self.last_error: Exception | None = None
        self.consecutive_failures = 0

    def _scan(self) -> dict[str, tuple[int, int]]:
        cfg, plan, state, qual = self.engine._source_lists
        snap: dict[str, tuple[int, int]] = {}
        for p, _kind in discover_files(cfg, plan, state, qual):
            if "://" in p:
                continue  # remote objects: no local stat; refresh() re-lists them
            try:
                st = os.stat(p)
            except OSError:
                continue
            snap[p] = (st.st_mtime_ns, st.st_size)
        return snap

    def poll(self) -> set[str]:
        """One watch tick. Returns the changed path set (possibly empty);
        when non-empty the engine has already been refreshed incrementally
        and any registered views re-registered."""
        new = self._scan()
        old = self._snap
        changed = {p for p in old.keys() | new.keys() if old.get(p) != new.get(p)}
        if changed:
            # refresh FIRST: if it raises, the snapshot stays old, so the
            # same delta is re-detected and retried on the next tick rather
            # than being permanently lost
            self.engine.refresh(changed)
            self._snap = new
        return changed

    def run(self, interval: float = 1.0, max_ticks: int | None = None) -> None:
        """Blocking poll loop (the long-running watch connection). Bounded
        by ``max_ticks`` for tests; Ctrl-C to stop interactively."""
        ticks = 0
        while max_ticks is None or ticks < max_ticks:
            self.poll()
            ticks += 1
            time.sleep(interval)


def canonical_batch_writer(store_path: str, checkpoint: str):
    """foreachBatch callable appending wide rows to the canonical store,
    skipping replayed micro-batch ids (see ``watch_to_canonical``). Batch
    ids count per checkpoint, so the last-written id is recorded inside
    the stream's ``checkpoint``: a second stream, or a reset checkpoint,
    into the same store starts from its own ids. The marker needs a
    POSIX-atomic rename, so it is kept only for a local checkpoint; an
    object-store one falls back to at-least-once (use a transactional
    table format there)."""
    marker = None if "://" in checkpoint else os.path.join(checkpoint, "_last_committed_batch")

    def _append_once(batch: DataFrame, batch_id: int) -> None:
        if marker is not None:
            try:
                with open(marker) as f:
                    if batch_id <= int(f.read().strip()):
                        return  # replayed batch: already fully written
            except (OSError, ValueError):
                pass  # first batch, or marker unreadable → write (at-least-once)
        batch.write.mode("append").partitionBy("tf_table").parquet(store_path)
        if marker is not None:
            os.makedirs(checkpoint, exist_ok=True)
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(batch_id))
            os.replace(tmp, marker)  # atomic on POSIX

    return _append_once


def watch_to_canonical(
    spark: SparkSession,
    config_dir: str,
    store_path: str,
    kind: str = "config",
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Continuously append newly-discovered files' wide rows to the durable
    canonical store (Parquet partitioned by ``tf_table`` — the same layout
    ``TerraformEngine.save_canonical`` writes, readable by
    ``load_canonical``). ``available_now`` drains the current backlog and
    stops (cron-style refresh), otherwise the query runs until stopped.

    foreachBatch is at-least-once: a micro-batch whose write succeeded but
    whose checkpoint commit failed is REPLAYED on restart, so a blind
    append would duplicate rows. The writer records the last fully-written
    batch id in a ``_last_committed_batch`` marker inside the checkpoint
    (whose ids it counts) and skips replayed ids. Remaining gap,
    stated honestly: a batch that fails MID-write leaves a partial append
    that the retry then re-writes — closing that needs a transactional
    table format, which plain parquet is not; the marker closes the common
    replay case (commit raced the crash).

    Returns the StreamingQuery.
    """
    checkpoint = checkpoint or store_path + "/_checkpoint"
    stream = watch_terraform_blocks(spark, config_dir, kind=kind)
    writer = stream.writeStream.option("checkpointLocation", checkpoint).foreachBatch(
        canonical_batch_writer(store_path, checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
