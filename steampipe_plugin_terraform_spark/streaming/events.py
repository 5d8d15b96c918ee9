"""Event-time streaming over the events table (SURVEY §2.8).

The reference has no streaming operators at all (its only stream-ish
behavior is file watching); these are the Spark-native event-time shapes a
user of the engine gets on top: watermarked tumbling windows, session
windows, and within-watermark dedup. All are standard Structured Streaming
operators — state lives in the state store, scales with executors, and
late data beyond the watermark is dropped deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import state


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def probe_events_ts_dtype(spark: SparkSession, sf_dir: str) -> str:
    """Driver-side footer probe of the events table's ``ts`` physical type.

    Returns the *batch* dtype string Spark assigns to the column:
    ``bigint`` for TIMESTAMP(NANOS) files (readable only via
    ``legacy.parquet.nanosAsLong``), ``timestamp_ntz``/``timestamp`` for
    ordinary µs files. Setting the legacy conf first is safe — it only
    affects genuine nanos columns and deliberately persists on the session
    (same contract as ``catalog._t``). The probe is a footer/analysis pass
    (~100 ms of driver time), so it runs once per session and corpus."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return state.get(
        spark, "events_ts_dtype", state.corpus_digest(sf_dir),
        lambda: dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts", ""),
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events parquet as a file source, adapting to the file's
    timestamp unit: ordinary ``timestamp[us]`` parquet streams as-is with a
    (NTZ) timestamp schema; legacy TIMESTAMP(NANOS) files are read as long
    and truncated ns → µs (exactly like DuckDB's µs conversion).

    The file stream source needs a directory; ``pathGlobFilter`` narrows it
    to the events file inside the multi-table sf dir."""
    # UTC for every branch: window()/session_window bucket in session-local
    # time, and the DuckDB oracle is timezone-naive — a non-UTC session
    # would shift every hourly bucket (this entry can be the FIRST in a
    # driver session, so no prior batch read has pinned the tz yet)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dtype = probe_events_ts_dtype(spark, sf_dir)
    if dtype == "bigint":  # TIMESTAMP(NANOS) → long, convert ourselves
        raw = (
            spark.readStream.schema(_events_schema(T.LongType()))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dtype == "timestamp":
        return (
            spark.readStream.schema(_events_schema(T.TimestampType()))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # timestamp_ntz: watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_
    # TIMESTAMP_TYPE), so cast under the UTC session tz set above —
    # wall-clock values are preserved exactly.
    raw = (
        spark.readStream.schema(_events_schema(T.TimestampNTZType()))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total_value")
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows: events within `gap` of each other merge per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("s.start").alias("session_start"), F.col("s.end").alias("session_end"), "n_events")
    )


def deduped_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key events within the watermark horizon
    (dropDuplicatesWithinWatermark — the streaming exact-dedup analog)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["user_id", "event_type"])


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "error",
    within: str = "10 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded by an event-time interval: every
    ``left_type`` event joined to the same user's ``right_type`` events in
    [ts, ts + within]. Both sides carry watermarks so the join state store
    evicts rows once they age past watermark + interval — the state bound
    that makes stream-stream joins viable at scale (without the time bound
    the state is unbounded and the join is rejected by Spark).

    ``how="left_outer"`` additionally emits each unmatched left event with
    a NULL right id — but only once the watermark passes the end of its
    match window (l_ts + within), i.e. once no future right row can still
    match; left rows whose window is still open when the stream ends are
    never emitted (they remain in state awaiting a match).

    ``how="full_outer"`` adds the symmetric right-side rule: an unmatched
    right event emits with a NULL left id once the watermark passes its
    OWN event time (the condition requires l_ts <= r_ts, so any
    still-to-arrive left row below the watermark would be dropped). The
    ``user_id`` output coalesces the two sides — identical to the left
    column for inner/left joins, populated from the right side for
    right-outer rows.
    """
    l = (
        left.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    r = (
        right.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    return l.join(
        r,
        F.expr(
            f"l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + interval {within}"
        ),
        how,
    ).select(
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("error_id"),
        F.coalesce("l_user", "r_user").alias("user_id"),
    )


def dim_enriched_agg_stream(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    group_cols: tuple[str, ...] = ("c_mktsegment", "event_type"),
) -> DataFrame:
    """Stream-static enrichment: join the event stream against a STATIC
    (batch) dimension, then aggregate per enriched group.

    The static side is stateless for the stream — no watermark, no join
    state: every micro-batch hash-joins against the dim snapshot, and the
    explicit broadcast keeps the per-batch join shuffle-free (the dim is
    the small side by contract; at 100 TB the events stream stays
    partitioned while only the dim ships to executors).
    """
    joined = events.join(F.broadcast(dim), events[stream_key] == dim[dim_key])
    return joined.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
