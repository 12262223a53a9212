"""Structured Streaming surface.

The reference has NO streaming operators (SURVEY.md §2.10): its "online"
mode is synchronous request/response serving (infer_online.py:221-240).
We keep the batch pipeline pure and host it behind Structured Streaming
where a deployment needs it.  Events analytics:

* ``read_events_stream`` / ``run_stream_to_memory`` — a file stream
  over the events table and a synchronous availableNow driver for it;
* ``windowed_event_counts`` — event-time tumbling window aggregation
  with a watermark for late data (the same plan on batch and stream);
* ``sessionize_batch`` — gap-based sessionization (lag + cumsum).

Documents:

* ``stream_mentions`` — foreachBatch hosting the (pure) mention
  pipeline over the document stream (``DOCS_SCHEMA``, ``_run_docs``):
  each micro-batch of documents runs the same segment->tag->extract
  dataflow as the batch engine, proving the serving path is "just
  another batch over a micro-partition" (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Works on both batch and streaming DataFrames (same plan)."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total",
        )
    )


def run_stream_to_memory(sdf: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a finite file stream to completion synchronously (tests)."""
    q = (
        sdf.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, session_id, n_events, t_start, t_end): a new session
    starts when the gap to the previous event exceeds ``gap_minutes``."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # ts arrives as TIMESTAMP_NTZ from pandas-written parquet; go via
    # TIMESTAMP (session TZ is pinned UTC) to get epoch seconds
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(w)
    e = events.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return e.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
    )


def stream_mentions(spark: SparkSession, docs_path: str, sink: list):
    """foreachBatch host for the pure mention pipeline: every
    micro-batch runs the same dataflow the batch engine runs."""
    from ..plans.kg import detect_mentions

    def process(src: DataFrame, epoch_id: int) -> None:
        m = detect_mentions(src, domain="doc", mode="rules")
        sink.append((epoch_id, m.count()))

    return _run_docs(spark, docs_path, process)


def _run_docs(spark: SparkSession, docs_path: str, process):
    """Stream the document files under ``docs_path`` one file per
    micro-batch, call ``process(src, epoch_id)`` on each batch's
    ``documents_as_source`` frame, and block until every available
    file is processed; returns the finished StreamingQuery."""
    from ..plans.kg import documents_as_source

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path)
    )
    q = stream.writeStream.foreachBatch(
        lambda batch_df, epoch_id: process(documents_as_source(batch_df),
                                           epoch_id)
    ).trigger(availableNow=True).start()
    q.awaitTermination()
    return q
