"""Streaming window aggregates over the events stream.

Batch/stream-unified: the same transformation function is applied to a batch
DataFrame (what the DuckDB-oracled ``events_tumbling`` query checks) or to a
``readStream`` DataFrame (what these helpers wire up, with watermarks for late
data). Structured Streaming's incremental execution of a
``groupBy(window(...))`` is Spark's native re-expression of a streaming
rollup at scale: state is partitioned by (window, keys) and aged out by the
watermark, so state size is bounded regardless of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def tumbling_agg(events: DataFrame, width: str = "1 hour",
                 watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window count/sum/avg per event_type. On a streaming input the
    watermark bounds state; on a batch input it is a no-op."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
            "avg_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes",
                watermark: str = "2 hours") -> DataFrame:
    """Session-window aggregate per user: Spark merges gap-connected events
    into variable-length sessions inside the aggregate (window.start = first
    event ts, window.end = last event ts + gap).

    Streaming semantics: session windows require a watermark (state for an
    open session is held until the watermark passes its close); state size is
    bounded by |active users| × open sessions. Batch form is the DuckDB-
    oracled ``events_session_window`` query."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over micro-precision event parquet files.

    (The driver's events table is TIMESTAMP_NANOS which the streaming parquet
    source rejects; producers of streaming input should write µs timestamps —
    see tests/test_streaming.py for the re-materialization pattern.)
    """
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def derive_output_mode(stream_df: DataFrame) -> str:
    """Pick the output mode Spark will accept for this plan: aggregates run
    in ``complete`` (valid with or without watermark, and — unlike append —
    it still emits windows the final watermark hasn't closed, which the
    stream-equals-batch harness contract needs); everything else (stateless
    projections, dropDuplicatesWithinWatermark, stream-stream joins,
    applyInPandasWithState) runs in ``append``."""
    plan = stream_df._jdf.queryExecution().analyzed().toString()
    return "complete" if "Aggregate" in plan else "append"


def run_stream_to_memory(stream_df: DataFrame, query_name: str,
                         timeout_sec: int = 60,
                         output_mode: str | None = None) -> None:
    """Drive a streaming aggregate to completion into an in-memory sink
    (test/dev harness; production uses a real sink + checkpointLocation).
    Default mode is derived from the plan (a hard-coded 'complete' raised
    AnalysisException for append/update stateful operators). Stateful
    applyInPandasWithState operators pass their own mode ("update"/"append");
    in those modes the memory sink appends each trigger's emissions, so
    consumers take the latest row per key."""
    if output_mode is None:
        output_mode = derive_output_mode(stream_df)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    q.stop()
