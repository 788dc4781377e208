"""Structured Streaming analogs (SURVEY.md §2.9): windowed watermarked aggs
equal their batch twin; stateful per-user counts; command-stream session with
LWW drop semantics and error containment."""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from vector_db_mvp_spark.engine import SearchEngine
from vector_db_mvp_spark.sources.testdata import load_table
from vector_db_mvp_spark.storage.store import EntityStore
from vector_db_mvp_spark.streaming.session_stream import (
    SessionStreamProcessor,
    start_session_stream,
)
from vector_db_mvp_spark.streaming.windows import (
    user_running_counts,
    view_purchase_attribution,
    windowed_event_counts,
)


@pytest.fixture()
def events_stream_dir(spark, sf_dir, tmp_path):
    """Copy the events fixture into a stream-source dir (micro-batch file
    source needs a directory it can list)."""
    out = str(tmp_path / "events_in")
    df = load_table(spark, sf_dir, "events")
    df.coalesce(1).write.parquet(out)
    return out, df


def test_windowed_counts_match_batch(spark, events_stream_dir, tmp_path):
    src, batch_df = events_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    q = (
        windowed_event_counts(stream, window_duration="1 hour", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in (
            batch_df.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .collect()
        )
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, events_stream_dir, tmp_path):
    """ST7 companion: watermarked stream-stream attribution join produces
    exactly the rows of the same function applied to bounded inputs."""
    src, batch_df = events_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    views_s = stream.filter(F.col("event_type") == "view")
    purch_s = stream.filter(F.col("event_type") == "purchase")
    q = (
        view_purchase_attribution(views_s, purch_s)
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_j"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["view_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    )
    want = sorted(
        (r["user_id"], r["view_id"], r["purchase_id"])
        for r in view_purchase_attribution(
            batch_df.filter(F.col("event_type") == "view"),
            batch_df.filter(F.col("event_type") == "purchase"),
        ).collect()
    )
    assert got == want
    assert len(got) > 0  # fixture actually produces attributable pairs


def test_stateful_user_counts(spark, events_stream_dir, tmp_path):
    src, batch_df = events_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    q = (
        user_running_counts(stream)
        .writeStream.format("memory")
        .queryName("user_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_u"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["n_events"]
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM user_counts GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in batch_df.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark, tmp_path):
    """ST7 hard evidence: with append output + watermark, a row arriving
    after its window's watermark has passed is DROPPED; the finalized window
    keeps its on-time count."""
    import datetime as dt

    src = str(tmp_path / "late_in")
    os.makedirs(src)
    schema = "ts timestamp, event_type string, value double, user_id long"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: two on-time rows in hour-0 + a row far ahead that advances the
    # watermark (max event time 03:00 - 10min watermark >> hour-0 end)
    write_batch("b1", [
        (t0, "click", 1.0, 1),
        (t0 + dt.timedelta(minutes=5), "click", 1.0, 1),
        (t0 + dt.timedelta(hours=3), "click", 1.0, 1),
    ])
    out = str(tmp_path / "late_out")

    def run_stream():
        q = (
            windowed_event_counts(
                spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
                window_duration="1 hour", watermark="10 minutes",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    # second run over the same checkpoint: a LATE hour-0 row arrives after
    # the watermark already passed hour-0's end
    write_batch("b2", [(t0 + dt.timedelta(minutes=30), "click", 99.0, 1)])
    run_stream()
    rows = {
        r["window_start"]: r["n_events"] for r in spark.read.parquet(out).collect()
    }
    # hour-0 window finalized with the 2 on-time rows; the late row (count
    # would be 3) was dropped by the watermark
    assert rows.get(t0) == 2


def test_stream_dedup_on_ntz_fixture(spark, events_stream_dir, tmp_path):
    """NTZ regression (Spark 4.x reads fixture parquet ts as TIMESTAMP_NTZ,
    which withWatermark rejects): the streaming dedup path must coerce the
    event-time column before declaring its watermark, same as windows.py."""
    from vector_db_mvp_spark.streaming.dedup_stream import dedup_stream_exact

    src, batch_df = events_stream_dir
    assert str(batch_df.schema["ts"].dataType) == "TimestampNTZType()", (
        "fixture no longer NTZ — regression test needs updating"
    )
    stream = (
        spark.readStream.schema(batch_df.schema)
        .parquet(src)
        .withColumn("fingerprint", F.col("user_id").cast("string"))
    )
    q = (
        dedup_stream_exact(stream, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_ntz")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ntz"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(DISTINCT fingerprint) AS n, count(*) AS total FROM dedup_ntz").collect()[0]
    # one survivor per fingerprint within a single micro-batch
    assert got["n"] == got["total"] > 0


def _write_command(dirpath: str, i: int, **cmd) -> None:
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"cmd_{i:04d}.json")
    with open(path, "w") as f:
        f.write(json.dumps(cmd))
    # FileStreamSource orders pending files by mtime; files written in the
    # same instant tie and get arbitrary order. Commands "arrive over time"
    # in any real deployment, so model that with strictly increasing mtimes.
    t = 1_700_000_000 + i
    os.utime(path, (t, t))


def test_session_stream_lifecycle(spark, tmp_path):
    """One command per micro-batch (maxFilesPerTrigger=1) -> every action
    applies in order: library -> document -> chunks -> query -> results."""
    cmd_dir = str(tmp_path / "cmds")
    out_dir = str(tmp_path / "out")
    store = EntityStore(spark, str(tmp_path / "store"), default_dim=4)
    proc = SessionStreamProcessor(SearchEngine(store), out_dir)
    _write_command(cmd_dir, 0, session_id="s1", seq=0, action="add_library",
                   payload=json.dumps({"name": "stream-lib"}))
    _write_command(cmd_dir, 1, session_id="s1", seq=1, action="add_document",
                   payload=json.dumps({"title": "doc"}))
    _write_command(cmd_dir, 2, session_id="s1", seq=2, action="add_chunk",
                   payload=json.dumps({"text": "alpha", "embedding": [1.0, 0.0, 0.0, 0.0]}))
    _write_command(cmd_dir, 3, session_id="s1", seq=3, action="add_chunk",
                   payload=json.dumps({"text": "beta", "embedding": [0.0, 1.0, 0.0, 0.0]}))
    _write_command(cmd_dir, 4, session_id="s1", seq=4, action="start_query",
                   payload=json.dumps({"query_embedding": [1.0, 0.0, 0.0, 0.0], "k": 1}))
    q = start_session_stream(
        spark, cmd_dir, proc, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(240)
    tl = {(r["seq"]): (r["action"], r["status"]) for r in proc.timeline().collect()}
    assert tl[0] == ("add_library", "ok")
    assert tl[4] == ("start_query", "ok")
    assert store.read("chunks").count() == 2
    hits = proc.results().collect()
    assert len(hits) == 1 and hits[0]["text"] == "alpha"


def test_session_stream_lww_and_error_containment(spark, tmp_path):
    """All commands in ONE batch -> only the newest per session executes
    (ST3 lossy queue); a failing action logs an error and the stream keeps
    going (ST5)."""
    cmd_dir = str(tmp_path / "cmds2")
    out_dir = str(tmp_path / "out2")
    store = EntityStore(spark, str(tmp_path / "store2"), default_dim=4)
    proc = SessionStreamProcessor(SearchEngine(store), out_dir)
    # same session, one batch: seq 0 (would create library) dropped, seq 1 runs
    _write_command(cmd_dir, 0, session_id="s2", seq=0, action="add_library",
                   payload=json.dumps({"name": "will-be-dropped"}))
    _write_command(cmd_dir, 1, session_id="s2", seq=1, action="add_document",
                   payload=json.dumps({"title": "orphan"}))
    q = start_session_stream(spark, cmd_dir, proc, available_now=True)
    q.awaitTermination(120)
    tl = {r["seq"]: (r["status"], r["detail"]) for r in proc.timeline().collect()}
    assert tl[0][0] == "dropped"  # LWW overwrote the pending action
    assert tl[1][0] == "error"    # no library in state -> contained failure
    assert "KeyError" in tl[1][1]
    assert store.list_libraries().count() == 0  # nothing applied


def test_stream_dedup_first_seen_wins(spark, tmp_path):
    """Streaming exact dedup (streaming/dedup_stream.py): duplicates within
    the watermark horizon are dropped, first arrival survives, and the
    surviving set matches the batch exact-dedup fingerprint universe."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from vector_db_mvp_spark.streaming.dedup_stream import (
        dedup_stream_exact,
        with_fingerprint,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("text", StringType(), True),
            StructField("ts", TimestampType(), False),
        ]
    )
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    src = str(tmp_path / "docs_in")
    # file 1: three originals; file 2 (later micro-batch): two exact dupes
    # (same text, new ids) + one genuinely new doc
    spark.createDataFrame(
        [(1, "alpha beta", t0), (2, "gamma", t0), (3, "delta", t0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(4, "alpha  BETA", t0 + dt.timedelta(minutes=5)),   # dupe of 1 (normalized)
         (5, "gamma", t0 + dt.timedelta(minutes=6)),          # dupe of 2
         (6, "epsilon", t0 + dt.timedelta(minutes=7))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        dedup_stream_exact(with_fingerprint(stream), watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3, 6]
    # fingerprint universe identical to the batch exact-dedup view
    batch = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "delta"), (4, "alpha  BETA"),
         (5, "gamma"), (6, "epsilon")],
        "doc_id long, text string",
    )
    batch_fps = {r["fingerprint"] for r in with_fingerprint(batch).select("fingerprint").distinct().collect()}
    assert {r["fingerprint"] for r in rows} == batch_fps
