"""Structured Streaming: stream/batch plan equivalence and the
foreachBatch-hosted mention pipeline (SURVEY.md §1.3 design note)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner_funtool_spark.streaming.stream import (
    read_events_stream,
    run_stream_to_memory,
    sessionize_batch,
    stream_mentions,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    """File stream sources need a directory; symlink the parquet files."""
    import os

    root = tmp_path_factory.mktemp("streamsrc")
    for t in ("events", "documents"):
        d = root / t
        d.mkdir()
        os.symlink(f"{SF}/{t}.parquet", d / f"{t}.parquet")
    return str(root)


def test_stream_equals_batch_windowed_counts(spark, stream_dirs):
    """The same windowed-agg plan over a finite file stream (complete
    mode) must produce exactly the batch result."""
    batch = windowed_event_counts(spark.read.parquet(f"{SF}/events.parquet"))
    stream = windowed_event_counts(read_events_stream(spark, f"{stream_dirs}/events"))
    q = run_stream_to_memory(stream, "wec")
    try:
        got = sorted(map(tuple, spark.sql("SELECT * FROM wec").collect()))
        want = sorted(map(tuple, batch.collect()))
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_stream_mentions_foreachbatch(spark, stream_dirs):
    """Micro-batches through the pure mention pipeline: totals must
    equal the one-shot batch run (serving = batch over micro-partition)."""
    from ner_funtool_spark.plans.kg import detect_mentions, documents_as_source

    sink: list = []
    q = stream_mentions(spark, f"{stream_dirs}/documents", sink)
    q.stop()
    total = sum(n for _, n in sink)
    want = detect_mentions(
        documents_as_source(spark.read.parquet(f"{SF}/documents.parquet")),
        domain="doc", mode="rules",
    ).count()
    assert total == want and want > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg with a 30-min watermark: an event
    arriving in a later micro-batch but older than the watermark is
    dropped; only closed windows are emitted."""
    import os
    import time as _time

    import pandas as pd

    src = tmp_path / "late_events"
    src.mkdir()

    def write(name, rows):
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.to_datetime([r[0] for r in rows]).astype("datetime64[us]"),
                "user_id": [1] * len(rows),
                "event_type": [r[1] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(src / name)
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = read_events_stream(spark, str(src))
        agg = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        try:
            return {
                str(r["w_start"]): r["n"]
                for r in spark.read.parquet(out).collect()
            }
        except Exception:
            return {}

    # run 1: three on-time events in the 10:00 hour -> watermark
    # advances to 10:29, nothing emitted yet (window still open)
    write("0.parquet", [("2024-01-01 10:05:00", "a"),
                        ("2024-01-01 10:20:00", "a"),
                        ("2024-01-01 10:59:00", "a")])
    assert run_once() == {}

    # run 2 (restart from checkpoint; watermark restored at 10:29):
    # one LATE event (09:10, window end 10:00 <= watermark -> dropped)
    # + a fresh 11:30 event that closes the 10:00 window
    write("1.parquet", [("2024-01-01 09:10:00", "a"),
                        ("2024-01-01 11:30:00", "a")])
    rows = run_once()
    # 10:00 window emits its 3 on-time events (state survived the
    # restart); the late event created no 09:00 window; the 11:00
    # window stays open in append mode
    assert rows == {"2024-01-01 10:00:00": 3}


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),   # same session (10 min gap)
        (1, "2024-01-01 01:00:00"),   # new session (50 min gap)
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in sessionize_batch(df, gap_minutes=30).collect()
    }
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_streaming_hot_path_has_no_driver_materialization():
    """The foreachBatch document path must never round-trip a batch's
    frames through the driver: no toPandas/collect/createDataFrame in
    the stream runner or the mention host (the r3 scale-killer,
    VERDICT r3 item 1)."""
    import inspect

    from ner_funtool_spark.streaming import stream as stream_mod

    for fn in (stream_mod._run_docs, stream_mod.stream_mentions):
        src = inspect.getsource(fn)
        for banned in ("toPandas", ".collect(", "createDataFrame"):
            assert banned not in src, f"{fn.__name__} contains {banned}"
