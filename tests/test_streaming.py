"""Structured Streaming tests: watch-mode file stream (S6 analog) and
event-time windows over the events table, run with availableNow triggers
against memory sinks."""

import shutil
import time

import pytest
from pyspark.sql import functions as F

from steampipe_plugin_terraform_spark.streaming import (
    deduped_stream,
    hourly_counts_stream,
    sessionized_stream,
    watch_terraform_blocks,
)
from steampipe_plugin_terraform_spark.streaming.events import read_events_stream

SF = "/root/testdata/sf0.001"


def _run_to_memory(df, name, timeout=120):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming and _has_agg(df) else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def _has_agg(df):
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def test_watch_mode_picks_up_new_files(spark, fixtures_dir, tmp_path):
    watch_dir = tmp_path / "watched"
    watch_dir.mkdir()
    shutil.copy(fixtures_dir / "config" / "main.tf", watch_dir / "main.tf")

    stream = watch_terraform_blocks(spark, str(watch_dir))
    assert stream.isStreaming
    q = _run_to_memory(stream, "tf_watch_1")
    n1 = spark.sql("select count(*) from tf_watch_1").collect()[0][0]
    assert n1 > 0
    res1 = spark.sql(
        "select count(*) from tf_watch_1 where tf_table = 'terraform_resource'"
    ).collect()[0][0]
    assert res1 == 3

    # a NEW file appears → the next availableNow batch ingests only it
    (watch_dir / "extra.tf").write_text('resource "aws_sns_topic" "t" { name = "x" }\n')
    q2 = (
        watch_terraform_blocks(spark, str(watch_dir))
        .writeStream.format("memory")
        .queryName("tf_watch_2")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    types = {
        r[0]
        for r in spark.sql(
            "select distinct type from tf_watch_2 where tf_table='terraform_resource'"
        ).collect()
    }
    assert "aws_sns_topic" in types


def test_hourly_counts_stream_matches_batch(spark):
    ev = read_events_stream(spark, SF)
    q = (
        hourly_counts_stream(ev)
        .writeStream.format("memory")
        .queryName("ev_hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("select * from ev_hourly").collect()
    }
    # batch reference computed directly (adaptive ts-unit read, like the stream)
    from steampipe_plugin_terraform_spark.catalog import _t

    batch = (
        _t(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    want = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_sessionized_stream(spark):
    ev = read_events_stream(spark, SF)
    q = (
        sessionized_stream(ev)
        .writeStream.format("memory")
        .queryName("ev_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from ev_sessions").collect()
    assert len(rows) > 0
    # session windows never overlap per user and each holds >= 1 event
    assert all(r["n_events"] >= 1 and r["session_end"] > r["session_start"] for r in rows)


def test_deduped_stream(spark):
    ev = read_events_stream(spark, SF)
    q = (
        deduped_stream(ev)
        .writeStream.format("memory")
        .queryName("ev_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) from ev_dedup").collect()[0][0]
    n_keys = spark.sql("select count(distinct user_id, event_type) from ev_dedup").collect()[0][0]
    assert n == n_keys > 0


def test_stateful_running_totals(spark):
    from steampipe_plugin_terraform_spark.streaming.stateful import running_user_totals

    ev = read_events_stream(spark, SF)
    q = (
        running_user_totals(ev)
        .writeStream.format("memory")
        .queryName("ev_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql("select * from ev_state").collect()
    }
    # final state must equal the batch aggregate
    from steampipe_plugin_terraform_spark.catalog import _t

    batch = (
        _t(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
    )
    want = {r["user_id"]: (r["n"], r["tv"]) for r in batch.collect()}
    assert got == want


def test_watch_to_canonical_store(spark, fixtures_dir, tmp_path):
    from steampipe_plugin_terraform_spark.engine import TerraformEngine
    from steampipe_plugin_terraform_spark.streaming.watch import watch_to_canonical

    watch_dir = tmp_path / "watched"
    watch_dir.mkdir()
    shutil.copy(fixtures_dir / "config" / "main.tf", watch_dir / "main.tf")
    store = str(tmp_path / "store")

    q = watch_to_canonical(spark, str(watch_dir), store)
    assert q.awaitTermination(300)

    eng = TerraformEngine.load_canonical(spark, store)
    n1 = eng.table("terraform_resource").count()
    assert n1 > 0

    # a new file appears; a second availableNow drain appends only its rows
    (watch_dir / "extra.tf").write_text('resource "canary" "c" { x = 1 }\n')
    q2 = watch_to_canonical(spark, str(watch_dir), store)
    assert q2.awaitTermination(300)
    eng2 = TerraformEngine.load_canonical(spark, store)
    assert eng2.table("terraform_resource").count() == n1 + 1
    assert (
        eng2.table("terraform_resource").filter("type = 'canary'").count() == 1
    )


def test_watch_to_canonical_two_streams_into_one_store(spark, tmp_path):
    """Batch ids belong to a checkpoint: a second stream with its own
    checkpoint writes its batch 0 into the same store instead of skipping
    it as a replay of the first stream's batch 0."""
    from steampipe_plugin_terraform_spark.engine import TerraformEngine
    from steampipe_plugin_terraform_spark.streaming.watch import watch_to_canonical

    store = str(tmp_path / "store")
    for name in ("a", "b"):
        watch_dir = tmp_path / name
        watch_dir.mkdir()
        (watch_dir / "main.tf").write_text(f'resource "t" "{name}" {{ x = 1 }}\n')
        q = watch_to_canonical(
            spark, str(watch_dir), store, checkpoint=str(tmp_path / f"ck_{name}")
        )
        assert q.awaitTermination(300)
    eng = TerraformEngine.load_canonical(spark, store)
    names = sorted(r["name"] for r in eng.table("terraform_resource").collect())
    assert names == ["a", "b"]


def test_stream_reader_adapts_to_nanos_parquet(spark, tmp_path):
    """Regression guard for the r04 ts-unit bug IN BOTH DIRECTIONS: the
    streaming reader must probe the parquet footer and handle a genuine
    TIMESTAMP(NANOS) events file (legacy testdata generations) exactly like
    the current timestamp[us] files — identical wall-clock event times."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from steampipe_plugin_terraform_spark.streaming.events import (
        probe_events_ts_dtype,
        read_events_stream,
    )

    base = 1_600_000_000_000_000_000  # 2020-09-13T12:26:40 UTC, ns
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [base, base + 3_600_000_000_000, base + 7_200_000_000_000],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([10, 10, 11], pa.int64()),
            "event_type": pa.array(["click", "click", "error"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    d = tmp_path / "nanos_sf"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet", store_schema=False)
    assert probe_events_ts_dtype(spark, str(d)) == "bigint"

    q = (
        hourly_counts_stream(read_events_stream(spark, str(d)), watermark="10 hours")
        .writeStream.format("memory")
        .queryName("__nanos_probe")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {
        (str(r["hour"]), r["event_type"]): r["n"]
        for r in spark.sql("select * from __nanos_probe").collect()
    }
    # three events, one per hour starting 12:00 UTC — nanos truncated to µs
    assert sum(rows.values()) == 3
    assert len([k for k in rows if k[1] == "click"]) == 2
    assert any("12:00:00" in k[0] for k in rows)


def test_sessions_stream_under_rocksdb_state_store(spark):
    """round-6: the engine factory's rocksdb_state flag swaps the streaming
    state store to RocksDB (off-heap, disk-spilling — the provider a 100 TB
    deployment runs once live session keys outgrow executor heap). The
    session-window entry must produce IDENTICAL results under it."""
    from steampipe_plugin_terraform_spark.catalog import QUERIES
    from steampipe_plugin_terraform_spark.session import (
        ROCKSDB_STATE_PROVIDER,
        get_spark,
    )

    sf = "/root/testdata/sf0.001"
    key = "spark.sql.streaming.stateStore.providerClass"
    baseline = sorted(map(tuple, QUERIES["stream_sessions_per_user"](spark, sf).collect()))
    prev = spark.conf.get(key, None)
    try:
        s2 = get_spark(rocksdb_state=True)  # same JVM session, conf applied
        assert s2.conf.get(key) == ROCKSDB_STATE_PROVIDER
        under_rocks = sorted(
            map(tuple, QUERIES["stream_sessions_per_user"](s2, sf).collect())
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert under_rocks == baseline and len(baseline) > 0


def test_progress_recorder_observes_drain(spark):
    """The ProgressRecorder must see the whole drain: total input rows
    equal the corpus, the event-time watermark advances past epoch, and
    the windowed aggregation reports bounded (nonzero) state rows."""
    import duckdb

    from steampipe_plugin_terraform_spark.streaming.events import (
        hourly_counts_stream,
        read_events_stream,
    )
    from steampipe_plugin_terraform_spark.streaming.observe import ProgressRecorder

    sf = "/root/testdata/sf0.001"
    n_events = duckdb.sql(f"SELECT count(*) FROM '{sf}/events.parquet'").fetchone()[0]
    rec = ProgressRecorder().attach(spark)
    try:
        # append mode: the drain runs a final no-data micro-batch that
        # advances the watermark and flushes closed windows — TWO
        # progress events, the second carrying the advanced watermark
        q = (
            hourly_counts_stream(read_events_stream(spark, sf))
            .writeStream.format("memory")
            .queryName("__obs_hourly")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        # listener delivery is asynchronous — poll for the progress
        # events to land before asserting on them
        import time as _time

        for _ in range(150):
            wm = rec.final_watermark()
            if wm is not None and wm > "2000-":
                break
            _time.sleep(0.1)
    finally:
        rec.detach()
    assert rec.total_input_rows() == n_events
    wm = rec.final_watermark()
    assert wm is not None and wm > "2000-"
    assert rec.max_state_rows() > 0
    # the finalization batch must show state EVICTION (closed windows
    # leave the store): last reported state rows < the batch-0 peak
    first = max(rec.progress[0]["state_rows_total"], default=0)
    last = max(rec.progress[-1]["state_rows_total"], default=0)
    assert last < first


def test_transform_with_state_variant_gated(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas record-high variant: runs
    (and must agree with the portable applyInPandasWithState path) where
    its driver worker's protobuf dependency exists; skipped where not."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not shipped in this container")
    from steampipe_plugin_terraform_spark.session import ROCKSDB_STATE_PROVIDER
    from steampipe_plugin_terraform_spark.streaming.events import read_events_stream
    from steampipe_plugin_terraform_spark.streaming.stateful import (
        record_breaking_events,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
    )
    try:
        q = (
            record_breaking_events(read_events_stream(spark, "/root/testdata/sf0.001"))
            .writeStream.format("memory")
            .queryName("__tws_record_highs")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        got = {
            (r.event_id, r.user_id, r.value)
            for r in spark.table("__tws_record_highs").collect()
        }
        from steampipe_plugin_terraform_spark.catalog import QUERIES

        want = {
            (r.event_id, r.user_id, r.value)
            for r in QUERIES["stream_record_highs"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert got == want
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


class _FakeValueState:
    """Stubbed TWS ValueState handle: exists()/get()/update() with the
    tuple-row convention of the real runtime."""

    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, row):
        self._v = tuple(row)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        self.states[name] = _FakeValueState()
        return self.states[name]


def test_record_high_processor_logic_with_stubbed_runtime():
    """transformWithStateInPandas can't run in this container (its driver
    worker imports google.protobuf), so exercise RecordHighProcessor's
    handle logic directly against a stubbed runtime: state carried across
    micro-batches, intra-batch (ts, event_id) ordering, strict-> emission,
    and exact agreement with the portable applyInPandasWithState updater
    on the same batch sequence."""
    import pandas as pd

    from steampipe_plugin_terraform_spark.streaming.stateful import (
        RecordHighProcessor,
        _record_high_update,
    )

    batches = [
        # batch 0 arrives out of ts order: must sort before scanning
        pd.DataFrame({"event_id": [3, 1, 2], "ts": [30, 10, 20],
                      "user_id": [7, 7, 7], "value": [5.0, 1.0, 5.0]}),
        # batch 1: 4.0 below running max 5.0 (no emit), 6.0 breaks it
        pd.DataFrame({"event_id": [4, 5], "ts": [40, 50],
                      "user_id": [7, 7], "value": [4.0, 6.0]}),
        # batch 2: ties never emit (strictly-greater rule)
        pd.DataFrame({"event_id": [6], "ts": [60], "user_id": [7], "value": [6.0]}),
    ]

    proc = RecordHighProcessor()
    handle = _FakeHandle()
    proc.init(handle)
    tws_emitted = []
    for b in batches:
        for out in proc.handleInputRows((7,), [b], None):
            tws_emitted += list(zip(out["event_id"], out["value"]))
    proc.close()

    # event 1 (first seen after sort), event 3 (5.0 > 1.0; event 2 tied
    # at 5.0 but sorted earlier, so 2 emits and 3 does not)... the sort
    # makes it deterministic: 1 -> emit, 2 (5.0) -> emit, 3 (5.0) -> tie
    assert tws_emitted == [(1, 1.0), (2, 5.0), (5, 6.0)]
    assert handle.states["running_max"].get() == (6.0,)

    # the portable AWPS updater must emit the identical sequence given
    # the same batches through a stubbed GroupState
    class _FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, row):
            self._v = tuple(row)

    gs = _FakeGroupState()
    awps_emitted = []
    for b in batches:
        for out in _record_high_update((7,), [b], gs):
            awps_emitted += list(zip(out["event_id"], out["value"]))
    assert awps_emitted == tws_emitted
    assert gs.get == (6.0,)
