"""Streaming ingest smoke tests: file-source -> parquet sink visibility
(the reference's INSERT + REFRESH analog) and watermarked windowed
rollup."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql.streaming.query import StreamingQuery
from pyspark.sql.streaming.readwriter import DataStreamWriter

from crate_spark.queries import load_all
from crate_spark.streaming import stream_ingest, stream_windowed_rollup
from tests.conftest import assert_matches_oracle

SCHEMA = "id bigint, ts timestamp_ntz, value double"


def _write_batch(src, name, rows):
    with open(f"{src}/{name}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_ingest_visibility(spark, tmp_path):
    src, dst, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    _write_batch(src, "b1", [{"id": 1, "ts": "2024-01-01 00:01:00", "value": 1.5},
                             {"id": 2, "ts": "2024-01-01 00:02:00", "value": 2.5}])
    q = stream_ingest(spark, src, dst, ckpt, SCHEMA)
    q.awaitTermination(60)
    assert spark.read.parquet(dst).count() == 2

    # second batch lands -> next drain makes it visible (REFRESH analog);
    # the checkpoint prevents re-ingesting b1 (exactly-once)
    _write_batch(src, "b2", [{"id": 3, "ts": "2024-01-01 00:20:00", "value": 3.0}])
    q2 = stream_ingest(spark, src, dst, ckpt, SCHEMA)
    q2.awaitTermination(60)
    df = spark.read.parquet(dst)
    assert df.count() == 3
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]


def test_stream_windowed_rollup(spark, tmp_path):
    src = str(tmp_path / "in")
    (tmp_path / "in").mkdir()
    _write_batch(src, "b1", [
        {"id": 1, "ts": "2024-01-01 00:01:00", "value": 1.0},
        {"id": 2, "ts": "2024-01-01 00:14:00", "value": 2.0},
        {"id": 3, "ts": "2024-01-01 00:16:00", "value": 10.0},
    ])
    agg = stream_windowed_rollup(spark, src, SCHEMA)
    q = (
        agg.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {str(r["bucket"]): (r["n"], r["total"]) for r in spark.sql(
        "SELECT * FROM rollup_test").collect()}
    assert rows["2024-01-01 00:00:00"] == (2, 3.0)
    assert rows["2024-01-01 00:15:00"] == (1, 10.0)


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState session windows: a session emits once the
    watermark passes its last event + gap. Three micro-batches
    (maxFilesPerTrigger=1): user 1's morning session closes when the
    afternoon batch advances the watermark."""
    from crate_spark.streaming import stream_sessionize

    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id bigint, ts timestamp, value double"
    _write_batch(src, "b1", [
        {"user_id": 1, "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01 10:10:00", "value": 2.0},
    ])
    _write_batch(src, "b2", [
        {"user_id": 1, "ts": "2024-01-01 10:20:00", "value": 4.0},
        {"user_id": 2, "ts": "2024-01-01 10:20:00", "value": 8.0},
    ])
    _write_batch(src, "b3", [
        {"user_id": 2, "ts": "2024-01-01 15:00:00", "value": 16.0},
    ])
    _write_batch(src, "b4", [
        {"user_id": 3, "ts": "2024-01-01 16:00:00", "value": 32.0},
    ])
    # the file source orders batches by modification time: pin it so
    # the watermark advances b1 -> b4 deterministically
    import os, time
    base = time.time() - 100
    for i, name in enumerate(["b1", "b2", "b3", "b4"]):
        os.utime(src / f"{name}.json", (base + i * 10, base + i * 10))
    out = stream_sessionize(spark, str(src), schema, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from collections import defaultdict

    rows = defaultdict(list)
    for r in spark.sql("SELECT * FROM sessions_out ORDER BY session_start").collect():
        rows[r["user_id"]].append(r)
    # user 1: one session of 3 events across batches 1+2, total 7.0,
    # closed when batch 3's 15:00 event pushed the watermark past 10:50
    assert len(rows[1]) == 1
    s1 = rows[1][0]
    assert s1["n_events"] == 3 and abs(s1["total"] - 7.0) < 1e-9
    assert str(s1["session_start"]).startswith("2024-01-01 10:00")
    assert str(s1["session_end"]).startswith("2024-01-01 10:20")
    # user 2 splits into two sessions: the 15:00 event proves a > gap
    # break after 10:20 (closes session 1 mid-stream); session 2 times
    # out when the final micro-batch carries the watermark past 15:30
    assert [(r["n_events"], r["total"]) for r in rows[2]] == [(1, 8.0), (1, 16.0)]
    # user 3's tail (timeout 16:30) never times out before the stream
    # drains -> held in state, not emitted (append-mode contract)
    assert rows.get(3) is None


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys arriving inside the watermark horizon are
    dropped; the state store stays bounded by the watermark."""
    from crate_spark.streaming import stream_dedup

    src, dst, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    _write_batch(src, "b1", [
        {"id": 1, "ts": "2024-01-01 00:01:00", "value": 1.5},
        {"id": 1, "ts": "2024-01-01 00:02:00", "value": 1.5},  # dup key
        {"id": 2, "ts": "2024-01-01 00:03:00", "value": 2.5},
        {"id": 2, "ts": "2024-01-01 00:03:30", "value": 9.9},  # dup key
        {"id": 3, "ts": "2024-01-01 00:04:00", "value": 3.0},
    ])
    stream = spark.readStream.schema(SCHEMA).json(src)
    deduped = stream_dedup(stream, ["id"], event_time_col="ts")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.read.parquet(dst)
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]


def test_stream_enrich_static_join(spark, tmp_path):
    """Stream-static broadcast enrichment: every micro-batch row picks
    up its dimension attributes; no stream-side state."""
    from crate_spark.streaming import stream_enrich

    src, dst, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    _write_batch(src, "b1", [
        {"id": 1, "ts": "2024-01-01 00:01:00", "value": 1.5},
        {"id": 2, "ts": "2024-01-01 00:02:00", "value": 2.5},
        {"id": 9, "ts": "2024-01-01 00:03:00", "value": 0.0},  # no dim row
    ])
    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], "id bigint, tier string")
    stream = spark.readStream.schema(SCHEMA).json(src)
    q = (
        stream_enrich(stream, dim, "id")
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r["id"]: r["tier"] for r in spark.read.parquet(dst).collect()}
    assert rows == {1: "gold", 2: "silver", 9: None}


def test_stream_quality_gate(spark, tmp_path):
    """The batch quality-gate expression runs per micro-batch and
    routes documents by first failing rule."""
    from crate_spark.streaming import stream_quality_gate

    src, dst, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    with open(f"{src}/docs.json", "w") as f:
        for i, t in enumerate(["one two", "the quick brown foxes jumped over lazy sleeping dogs"]):
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    q = (
        stream_quality_gate(stream, "text")
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r["doc_id"]: r["gate"] for r in spark.read.parquet(dst).collect()}
    assert got == {0: "too_short", 1: "keep"}


def test_session_frame_bounds_read_as_the_same_instants(spark):
    """``session_frame`` turns int64 epoch µs into ``datetime64[us]``
    with a view, not ``pd.to_datetime``: before the epoch, at it and far
    after it, its columns hold the instants ``pd.to_datetime`` gives, and
    Spark reads them back through the pandas-UDF output path as the same
    epoch microseconds."""
    import pandas as pd

    from crate_spark.streaming.ingest import session_frame

    starts = [
        -2_208_988_800_000_001,  # 1899-12-31 23:59:59.999999
        -1,
        0,
        1,
        7_258_118_400_123_456,  # 2200-01-01 00:00:00.123456
    ]
    ends = [u + 90_000_000 for u in starts]

    def frame(_pdf=None):
        return session_frame("user_id", 7, starts, ends, [1] * 5, [0.5] * 5)

    pdf = frame()
    for col, us in (("session_start", starts), ("session_end", ends)):
        assert list(pdf[col]) == list(pd.to_datetime(pd.Series(us), unit="us")), col
    out = (
        spark.createDataFrame([(7,)], "user_id bigint")
        .groupBy("user_id")
        .applyInPandas(
            frame,
            "user_id bigint, session_start timestamp, session_end timestamp, "
            "n_events bigint, total double",
        )
        .selectExpr("unix_micros(session_start) AS s", "unix_micros(session_end) AS e")
    )
    assert sorted(tuple(r) for r in out.collect()) == sorted(zip(starts, ends))


# -- the registry streams scope their shuffle-partition override -------------
@pytest.mark.parametrize(
    "name", ["streaming_rollup_events", "streaming_sessionize_events"]
)
def test_stream_override_does_not_leak_while_running(
    spark, duck, monkeypatch, name
):
    """The stream clones the session's conf when ``start()`` builds it:
    while ``awaitTermination`` runs, a second thread planning on the same
    session reads the session's own shuffle partitions, and the stream
    still runs its state store on 16."""
    own = spark.conf.get("spark.sql.shuffle.partitions")
    assert own != "16"
    started, seen, queries = threading.Event(), [], []

    def reader(done):
        started.set()
        while True:
            seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
            if done.is_set():
                return
            done.wait(0.01)

    real_start, real_await = DataStreamWriter.start, StreamingQuery.awaitTermination

    def start(self, *a, **kw):
        q = real_start(self, *a, **kw)
        queries.append(q)
        return q

    def await_termination(self, *a, **kw):
        done = threading.Event()
        t = threading.Thread(target=reader, args=(done,))
        t.start()
        started.wait()
        try:
            return real_await(self, *a, **kw)
        finally:
            done.set()
            t.join()

    monkeypatch.setattr(DataStreamWriter, "start", start)
    monkeypatch.setattr(StreamingQuery, "awaitTermination", await_termination)
    spec = load_all()[name]
    assert_matches_oracle(spark, duck, spec.fn, spec.oracle)
    assert seen and set(seen) == {own}
    [q] = queries
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 16
    assert spark.conf.get("spark.sql.shuffle.partitions") == own
