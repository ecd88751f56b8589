"""Streaming-semantics tests (SURVEY §5.3): the full corpus through the
real Structured Streaming pipeline, cross-batch state, counter monotonicity,
timeout eviction, and the eviction-then-reuse behavior only streaming can
model (main.go:125-129)."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pytest

from prometheus_clickhouselog_exporter_spark.operators.correlate import enrich_parsed
from prometheus_clickhouselog_exporter_spark.operators.metrics import metric_snapshot
from prometheus_clickhouselog_exporter_spark.operators.parsing import parse_log_lines
from prometheus_clickhouselog_exporter_spark.sources.fixtures import (
    FixtureLog,
    initial_line,
    memory_line,
    standard_corpus,
    stats_line,
)
from prometheus_clickhouselog_exporter_spark.sources.logsource import read_log_batch, read_log_stream
from prometheus_clickhouselog_exporter_spark.streaming import (
    PrometheusSnapshotSink,
    run_log_pipeline,
)
from prometheus_clickhouselog_exporter_spark.streaming.session_state import sessionize_stream

T = datetime(2024, 3, 1, 9, 0, 0)


def _run(spark, tmp_path, files: dict[str, list[str]]):
    """Write each file in order (one micro-batch each), run the pipeline to
    completion, return the sink."""
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    names = sorted(files)
    FixtureLog(files[names[0]]).write(str(log_dir / names[0]))
    pipe = run_log_pipeline(
        spark, str(log_dir), str(ckpt), PrometheusSnapshotSink(),
        max_files_per_trigger=1,
    )
    try:
        pipe.process_all_available()
        for name in names[1:]:
            FixtureLog(files[name]).write(str(log_dir / name))
            # distinct mtimes so the file source lists them in order
            os.utime(log_dir / name)
            pipe.process_all_available()
    finally:
        pipe.stop()
    return pipe.sink


def test_full_corpus_streaming_matches_batch_goldens(spark, tmp_path):
    sink = _run(spark, tmp_path, {"00.log": standard_corpus().lines})

    assert sink.read_lines == 52
    assert dict(sink.exporter_errors) == {
        "duplicated_initial_query": 1,
        "convert": 1,
        "not_found_query": 3,
    }
    assert dict(sink.query_count) == {"select": 12, "insert": 1, "update": 1, "delete": 1, "other": 1}
    assert dict(sink.query_errors) == {("select", "60"): 1, ("select", "47"): 1}
    # completed sessions: 6 non-insert happy-path + errmem + dup + 5 units
    assert sink.sessions == 13
    qt = sink.histograms["clickhouse_query_time"]
    assert qt["select"].total == 10
    assert qt["insert"].total == 1  # INSERT observed (query.go:228 precedes :231)
    rr = sink.histograms["clickhouse_select_query_rows_read"][""]
    assert rr.total == 12
    assert rr.counts[1e6] == 6
    # exposition renders and carries the counters
    text = sink.render_exposition()
    assert 'chlogexporter_errors{type="not_found_query"} 3' in text
    assert "clickhouse_query_time_bucket" in text


def test_cross_batch_correlation(spark, tmp_path):
    """initial in batch 1, stats+memory in batch 2 → still one session."""
    f1 = [initial_line(T, 1, "q-cross", "10.1.0.1", 9000, "SELECT 1")]
    f2 = [
        stats_line(T + timedelta(seconds=1), 1, "q-cross", 500, "1.00 KiB", 1.0, 500, "1.00 KiB"),
        memory_line(T + timedelta(seconds=2), 1, "q-cross", "1.00 MiB"),
    ]
    sink = _run(spark, tmp_path, {"00.log": f1, "01.log": f2})
    assert sink.sessions == 1
    assert dict(sink.exporter_errors) == {}
    assert sink.histograms["clickhouse_select_query_rows_read"][""].total == 1


def test_id_reuse_after_eviction_opens_fresh_session(spark, tmp_path):
    """After FullInfo eviction the same id is a NEW session — the exact
    map-delete behavior of main.go:125-129 that batch mode cannot model."""
    f1 = [
        initial_line(T, 1, "q-reuse", "10.1.0.1", 9000, "SELECT 1"),
        memory_line(T + timedelta(seconds=1), 1, "q-reuse", "1.00 MiB"),
    ]
    f2 = [
        initial_line(T + timedelta(minutes=1), 2, "q-reuse", "10.1.0.2", 9001, "SELECT 2"),
        memory_line(T + timedelta(minutes=1, seconds=3), 2, "q-reuse", "2.00 MiB"),
    ]
    sink = _run(spark, tmp_path, {"00.log": f1, "01.log": f2})
    assert sink.sessions == 2
    assert dict(sink.exporter_errors) == {}  # NOT a duplicated_initial_query
    assert sink.query_count["select"] == 2


def test_timeout_evicts_leaked_sessions(spark, tmp_path):
    """INSERT and error-only sessions leak forever in the reference
    (SURVEY ST5); the engine's state timeout evicts them.

    NB: while processing-time timers are pending, the engine keeps running
    no-data micro-batches, so `processAllAvailable()` never quiesces —
    the timeout phase must poll the sink instead.
    """
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    FixtureLog([initial_line(T, 1, "q-leak", "10.1.0.1", 9000, "INSERT INTO t VALUES (1)")]).write(
        str(log_dir / "00.log")
    )
    pipe = run_log_pipeline(
        spark, str(log_dir), str(tmp_path / "ckpt"), PrometheusSnapshotSink(),
        timeout_ms=300, max_files_per_trigger=1,
    )
    try:
        # No processAllAvailable here: once a processing-time timer is
        # armed the engine keeps scheduling no-data batches and that call
        # never returns. The micro-batch thread advances on its own; poll.
        deadline = time.time() + 120
        while time.time() < deadline and pipe.sink.timeouts == 0:
            time.sleep(0.5)
    finally:
        pipe.stop()
    assert pipe.sink.timeouts == 1
    assert pipe.sink.sessions == 0
    assert pipe.sink.query_count["insert"] == 1  # session opened, then evicted


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The 100 TB state backend: sessionization on the RocksDB state-store
    provider (state off-heap/on-disk, bounded memory) must produce the
    same results as the default HDFS-backed store."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        f1 = [initial_line(T, 1, "q-rocks", "10.1.0.1", 9000, "SELECT 1")]
        f2 = [
            stats_line(T + timedelta(seconds=1), 1, "q-rocks", 500, "1.00 KiB", 1.0, 500, "1.00 KiB"),
            memory_line(T + timedelta(seconds=2), 1, "q-rocks", "1.00 MiB"),
        ]
        sink = _run(spark, tmp_path, {"00.log": f1, "01.log": f2})
        assert sink.sessions == 1
        assert dict(sink.exporter_errors) == {}
        assert sink.query_count["select"] == 1
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.fixture(scope="module")
def session_rows(spark, tmp_path_factory):
    """The standard corpus through the sessionizer, drained into a memory
    table: the rows ``process_batch`` sees for one micro-batch, as a static
    frame whose state fold is already done, so only the sink's own jobs
    run on it. (applyInPandasWithState runs on streaming inputs only.)"""
    log_dir = tmp_path_factory.mktemp("sink_logs")
    standard_corpus().write(str(log_dir / "00.log"))
    raw = read_log_stream(spark, str(log_dir))
    q = (
        sessionize_stream(enrich_parsed(parse_log_lines(raw)))
        .writeStream.format("memory").queryName("sink_session_rows")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("sink_ckpt")))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table("sink_session_rows")


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_process_batch_job_count(spark, session_rows, tmp_path):
    """One aggregate and one collect per micro-batch (plus the parquet
    append when a sink path is set) — not one action per collector.

    AQE is off here as it is inside a micro-batch of the stateful
    sessions query (Spark disables it there); on a static frame it would
    add a map-stage job per shuffle and per cached plan."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plain = PrometheusSnapshotSink()
        assert _jobs_in(spark, "sink-plain", lambda: plain.process_batch(session_rows, 0)) <= 2
        published = PrometheusSnapshotSink(session_parquet_path=str(tmp_path / "sessions"))
        assert _jobs_in(spark, "sink-parquet", lambda: published.process_batch(session_rows, 0)) <= 3
    finally:
        spark.conf.set(key, prev)
    assert published.sessions == plain.sessions == 13
    assert spark.read.parquet(str(tmp_path / "sessions")).count() == 13


def test_process_batch_matches_batch_snapshot(spark, session_rows, fixture_log):
    """Bucket-level cross-check of the stream sink against the batch sink:
    the same corpus renders the same exposition, line for line. Only
    read_lines differs — the stream counts it in a separate query."""
    stream = PrometheusSnapshotSink()
    stream.process_batch(session_rows, 0)
    raw = read_log_batch(spark, fixture_log)
    batch = PrometheusSnapshotSink()
    batch.load_metric_frames(metric_snapshot(raw, parse_log_lines(raw)))

    def lines(sink):
        return [
            ln for ln in sink.render_exposition().splitlines()
            if not ln.startswith("chlogexporter_read_lines ")
        ]

    assert lines(stream) == lines(batch)
