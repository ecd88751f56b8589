"""Prometheus-style sink (reference K1, main.go:55-68 + metrics.go).

The reference exposes monotone counters/histograms via a pull endpoint.
Here each micro-batch is aggregated IN SPARK down to a handful of
(label → delta) rows, and only those tiny deltas reach the driver, which
merges them into a monotone snapshot — the same accumulate-forever
semantics promhttp serves, with per-batch work independent of batch size.

``render_exposition()`` emits the Prometheus text format so the snapshot
can be served by any HTTP server (a real deployment would put this behind
a /metrics handler or push it to a ClickHouse/Parquet metrics table).
"""

from __future__ import annotations

import threading
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.histogram import (
    BYTES_PER_SEC_BUCKETS,
    BYTES_READ_BUCKETS,
    QUERY_TIME_BUCKETS,
    ROWS_PER_SEC_BUCKETS,
    ROWS_READ_BUCKETS,
    _le_name,
)

_HISTOGRAMS = {
    "clickhouse_query_time": ("elapsed", QUERY_TIME_BUCKETS, "obs_time", True),
    "clickhouse_select_query_rows_read": ("rows_read", ROWS_READ_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_bytes_read": ("bytes_read", BYTES_READ_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_rows_per_second": ("rps", ROWS_PER_SEC_BUCKETS, "obs_stats", False),
    "clickhouse_select_query_bytes_per_second": ("speed", BYTES_PER_SEC_BUCKETS, "obs_stats", False),
}


class _Hist:
    def __init__(self, buckets):
        self.buckets = [float(b) for b in buckets]
        self.counts = defaultdict(float)  # le → cumulative count
        self.total = 0.0
        self.sum = 0.0


class PrometheusSnapshotSink:
    """foreachBatch target for the sessionized output stream.

    ``session_parquet_path``: optional parquet directory where completed
    session records are appended per batch — the downstream-publish hook
    the reference left as a TODO (main.go:126); swap the writer line for
    ``.format("jdbc")`` with a ClickHouse URL to land in ClickHouse.
    """

    def __init__(self, session_parquet_path: str | None = None) -> None:
        self.session_parquet_path = session_parquet_path
        self._lock = threading.Lock()
        self.read_lines = 0
        self.exporter_errors: dict[str, int] = defaultdict(int)
        self.query_count: dict[str, int] = defaultdict(int)
        self.query_errors: dict[tuple[str, str], int] = defaultdict(int)
        self.histograms: dict[str, dict[str, _Hist]] = {
            name: {} for name in _HISTOGRAMS
        }
        self.sessions = 0
        self.timeouts = 0

    # -- streaming hooks ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Merge one micro-batch of session/obs/err rows into the snapshot.

        One grouped conditional aggregate reduces the batch to a few rows
        per (row_type, label) — label counts plus every histogram's bucket
        sums, count and sum, each over its own row_type — and one
        ``collect()`` brings them to the driver, which routes each row by
        ``row_type``. A batch thus costs one aggregate, plus the parquet
        append when sessions are published. Every extra action re-runs the
        state fold upstream of ``batch_df``, so the batch is cached only
        when a parquet append may follow; otherwise the cache would cost a
        copy of the batch for its single reader.
        """
        row_type = F.col("row_type")
        aggs = [F.count(F.lit(1)).alias("n")]
        for name, (col, buckets, rt, _) in _HISTOGRAMS.items():
            v = F.when(row_type == rt, F.col(col)).cast("double")
            aggs += [
                F.sum(F.when(v <= F.lit(float(b)), 1).otherwise(0)).alias(f"{name}_b{i}")
                for i, b in enumerate(buckets)
            ]
            aggs += [F.count(v).alias(f"{name}_cnt"), F.sum(v).alias(f"{name}_s")]
        if self.session_parquet_path:
            batch_df = batch_df.cache()
        try:
            rows = (
                batch_df.groupBy(
                    row_type, "err_type", "obs_label",
                    F.when(row_type == "obs_error", F.col("error_code")).alias("error_code"),
                )
                .agg(*aggs)
                .collect()
            )
            n_sessions = sum(r["n"] for r in rows if r["row_type"] == "session")
            if self.session_parquet_path and n_sessions:
                (
                    batch_df.filter(row_type == "session")
                    .drop("row_type", "err_type", "obs_label")
                    .write.mode("append")
                    .parquet(self.session_parquet_path)
                )
        finally:
            batch_df.unpersist()

        with self._lock:
            for r in rows:
                kind = r["row_type"]
                if kind == "err":
                    self.exporter_errors[r["err_type"]] += r["n"]
                elif kind == "obs_initial":
                    self.query_count[r["obs_label"]] += r["n"]
                elif kind == "obs_error":
                    self.query_errors[(r["obs_label"], str(r["error_code"]))] += r["n"]
                elif kind == "session":
                    self.sessions += r["n"]
                elif kind == "timeout_evict":
                    self.timeouts += r["n"]
                for name, (_, buckets, rt, labelled) in _HISTOGRAMS.items():
                    if kind != rt:
                        continue
                    label = r["obs_label"] if labelled else ""
                    h = self.histograms[name].setdefault(label, _Hist(buckets))
                    for i, b in enumerate(h.buckets):
                        h.counts[b] += r[f"{name}_b{i}"]
                    h.total += r[f"{name}_cnt"]
                    h.sum += r[f"{name}_s"] or 0.0

    def count_lines_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """A1 read_lines (main.go:119): counts raw source lines per batch."""
        n = batch_df.count()
        with self._lock:
            self.read_lines += n

    # -- exposition ---------------------------------------------------------

    def load_metric_frames(self, frames: dict) -> None:
        """Populate the snapshot from `operators.metrics.metric_snapshot`
        DataFrames (batch mode — the CLI's --batch path)."""
        with self._lock:
            self.read_lines += frames["chlogexporter_read_lines"].collect()[0]["n"]
            for r in frames["chlogexporter_errors"].collect():
                self.exporter_errors[r["err_type"]] += r["n"]
            for r in frames["clickhouse_query_count"].collect():
                self.query_count[r["type"]] += r["n"]
            for r in frames["clickhouse_query_errors"].collect():
                self.query_errors[(r["type"], str(r["code"]))] += r["n"]
            for name, (col, buckets, _, labelled) in _HISTOGRAMS.items():
                for r in frames[name].collect():
                    label = r["type"] if labelled else ""
                    h = self.histograms[name].setdefault(label, _Hist(buckets))
                    for b in h.buckets:
                        h.counts[b] += r[_le_name(b)]
                    h.total += r["bucket_count"]
                    h.sum += r["bucket_sum"] or 0.0

    def render_exposition(self) -> str:
        """Prometheus text format, mirroring metrics.go collector names."""
        out: list[str] = []
        with self._lock:
            out.append("# TYPE chlogexporter_read_lines counter")
            out.append(f"chlogexporter_read_lines {self.read_lines}")
            out.append("# TYPE chlogexporter_errors counter")
            for t, n in sorted(self.exporter_errors.items()):
                out.append(f'chlogexporter_errors{{type="{t}"}} {n}')
            out.append("# TYPE clickhouse_query_count counter")
            for t, n in sorted(self.query_count.items()):
                out.append(f'clickhouse_query_count{{type="{t}"}} {n}')
            out.append("# TYPE clickhouse_query_errors counter")
            for (t, c), n in sorted(self.query_errors.items()):
                out.append(f'clickhouse_query_errors{{code="{c}",type="{t}"}} {n}')
            for name, by_label in self.histograms.items():
                out.append(f"# TYPE {name} histogram")
                for label, h in sorted(by_label.items()):
                    lbl = f'type="{label}",' if label else ""
                    for b in h.buckets:
                        out.append(f'{name}_bucket{{{lbl}le="{b:g}"}} {int(h.counts[b])}')
                    out.append(f'{name}_bucket{{{lbl}le="+Inf"}} {int(h.total)}')
                    out.append(f"{name}_sum{{{lbl[:-1]}}}" .replace("{}", "") + f" {h.sum:g}")
                    out.append(f"{name}_count{{{lbl[:-1]}}}".replace("{}", "") + f" {int(h.total)}")
        return "\n".join(out) + "\n"
