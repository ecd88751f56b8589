"""log_backfill: closed loop, in process. Each pass is what the CLI's
``--batch`` path does, composed from the package's public functions:

    read_log_batch → parse_log_lines → metric_snapshot
      → PrometheusSnapshotSink.load_metric_frames → render_exposition
    plus correlate_batch → parquet

over a seeded log of ``N_LINES`` lines in ``N_FILES`` files. Every pass's
exposition is checked against the generator's counters.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

from prometheus_clickhouselog_exporter_spark.operators.correlate import correlate_batch
from prometheus_clickhouselog_exporter_spark.operators.metrics import metric_snapshot
from prometheus_clickhouselog_exporter_spark.operators.parsing import parse_log_lines
from prometheus_clickhouselog_exporter_spark.session import get_spark
from prometheus_clickhouselog_exporter_spark.sources.logsource import read_log_batch
from prometheus_clickhouselog_exporter_spark.streaming.sink import PrometheusSnapshotSink

from . import common
from .loggen import LogGenerator, mismatches, parse_exposition
from .trace import Spans, jobs_by, read_event_log, spark_counts

N_FILES = 8
N_LINES = 80_000
LOG_RATE = 2000  # lines per second of log time
MIN_PASSES = 3
WARMUP_PASSES = 2
PASS_S = 4.0  # a warm pass on a 4-core box; sets the number of timed passes
LAYERS = ("sources", "parsing", "metrics", "correlate", "sink")


def make_input(seed: int, log_dir: str):
    gen = LogGenerator(seed)
    per = N_LINES // N_FILES
    for i in range(N_FILES):
        lines, _ = gen.chunk(per, per / LOG_RATE)
        with open(os.path.join(log_dir, f"clickhouse-server.log.{i}"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return gen.total


class Pass:
    """One backfill pass; with ``spans`` each layer call is a span and its
    Spark jobs carry the layer's job group."""

    def __init__(self, spark, log_dir: str, out_dir: str, spans: Spans | None = None):
        self.spark, self.log_dir, self.out_dir, self.spans = spark, log_dir, out_dir, spans

    def _layer(self, name: str):
        if self.spans is None:
            return nullcontext()
        self.spark.sparkContext.setJobGroup(name, name)
        return self.spans.span(name)

    def run(self) -> str:
        with self._layer("sources"):
            raw = read_log_batch(self.spark, self.log_dir)
        with self._layer("parsing"):
            parsed = parse_log_lines(raw).cache()
        with self._layer("metrics"):
            sink = PrometheusSnapshotSink()
            sink.load_metric_frames(metric_snapshot(raw, parsed))
        with self._layer("correlate"):
            correlate_batch(parsed).filter("full_info").write.mode("overwrite").parquet(self.out_dir)
        with self._layer("sink"):
            text = sink.render_exposition()
        parsed.unpersist()
        # metric_snapshot leaves its annotated events cached; drop every
        # cache so each pass starts cold, as a CLI --batch run does.
        self.spark.catalog.clearCache()
        if self.spans is not None:
            self.spark.sparkContext.setJobGroup("", "")
        return text

    def materialize(self, upto: str) -> float:
        """Wall time to run the lazy layers up to ``upto`` into a noop sink
        (cumulative, so a layer's self time is a difference)."""
        raw = read_log_batch(self.spark, self.log_dir)
        df = raw if upto == "sources" else parse_log_lines(raw)
        if self.spans is not None:
            self.spark.sparkContext.setJobGroup(f"probe.{upto}", upto)
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t


def run(seed: int, seconds: float, eventlog_dir: str | None = None) -> dict:
    """Set-up and timed passes in one Spark session. With ``eventlog_dir``
    the passes are traced: spans, job groups and the Spark event log."""
    os.environ.update(common.spark_env(eventlog_dir))
    spans = Spans(f"log_backfill-{seed}") if eventlog_dir else None
    t0 = time.perf_counter()
    log_dir = common.fresh_dir("backfill", "log")
    out_dir = os.path.join(common.WORK, "backfill", "sessions")
    expected = make_input(seed, log_dir)
    spark = get_spark("perfbench-backfill", cores=common.CORES)
    p = Pass(spark, log_dir, out_dir, spans)
    text = p.run()
    setup_s = time.perf_counter() - t0

    failed = attempted = 0

    def check(text: str, label: str, sessions_ok: bool = True) -> None:
        nonlocal attempted, failed
        attempted += 1
        bad = mismatches(expected, parse_exposition(text))
        if bad or not sessions_ok:
            failed += 1
            print(f"log_backfill: {label} mismatch {bad or 'in the session parquet row count'}")

    # Completed sessions land in the parquet output: one per non-INSERT
    # memory line of an open session.
    want_sessions = sum(v for k, v in expected.items()
                        if k.startswith("query_time_count|") and not k.endswith("|insert"))
    check(text, "cold pass", spark.read.parquet(out_dir).count() == want_sessions)
    rss_seq = [common.peak_rss_mb(os.getpid())]

    def timed(q: Pass, label: str) -> float:
        t = time.perf_counter()
        text = q.run()
        dt = time.perf_counter() - t
        check(text, label)
        return dt

    # Untimed passes first: the first passes after the cold one are the
    # slowest and the least steady, while the JIT compiles Spark's code.
    for i in range(WARMUP_PASSES):
        check(p.run(), f"warm-up pass {i + 1}")
        rss_seq.append(common.peak_rss_mb(os.getpid()))

    # A fixed number of timed passes, as many as ``seconds`` holds at the
    # nominal pass time: pass times keep falling for ten passes while the
    # JIT works, so a count set by the host's speed would put the median
    # further down that fall on a faster host and widen the spread.
    # Traced, each timed pass is paired with an untraced one in the same
    # session, the order alternating so that drift cancels; the median of
    # the paired differences is the tracing overhead.
    plain = Pass(spark, log_dir, out_dir) if spans is not None else None
    n_passes = max(MIN_PASSES, round(seconds / PASS_S))
    times, plain_times = [], []
    while len(times) < n_passes:
        first = plain is not None and len(times) % 2 == 0
        if first:
            plain_times.append(timed(plain, f"untraced pass {len(plain_times) + 1}"))
        times.append(timed(p, f"pass {len(times) + 1}"))
        rss_seq.append(common.peak_rss_mb(os.getpid()))
        if plain is not None and not first:
            plain_times.append(timed(plain, f"untraced pass {len(plain_times) + 1}"))

    med = statistics.median(times)
    metrics = {
        "lines_per_s": (N_LINES / med, "1/s"),
        "latency_p50_s": (med, "s"),
        "latency_p95_s": (common.pct(times, 95), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_seq[-1], "MiB"),
    }
    notes = [f"passes n={len(times)} over {N_LINES} lines in {N_FILES} files: "
             + " ".join(f"{t:.2f}" for t in times)]
    notes.append("peak RSS after each pass from the cold one, MiB: " + " ".join(f"{r:.0f}" for r in rss_seq))
    if plain_times:
        notes.append(f"untraced passes n={len(plain_times)}: " + " ".join(f"{t:.2f}" for t in plain_times))
    layers = {}
    if eventlog_dir:
        cum = {k: statistics.median([p.materialize(k) for _ in range(3)]) for k in ("sources", "parsing")}
        raw = read_log_batch(spark, log_dir)
        matched = parse_log_lines(raw).count() / raw.count()
    spark.stop()  # flushes the event log
    if eventlog_dir:
        layers = _layers(spans, eventlog_dir, cum)
        layers["parsing.matched_ratio"] = matched
        layers["trace.overhead_s"] = statistics.median(t - u for t, u in zip(times, plain_times))
    return {"metrics": metrics, "layers": layers, "attempted": attempted,
            "failed": failed, "notes": notes}


def _layers(spans: Spans, eventlog_dir: str, cum: dict[str, float]) -> dict[str, float]:
    """Span and event-log metrics of the traced passes (the cold one too).
    Lazy layers get their self time from ``cum``, the wall time of
    cumulative noop materializations: scan alone, then scan+parse."""
    spans.write(os.path.join(common.WORK, "spans-log_backfill.json"))
    groups = jobs_by(read_event_log(eventlog_dir)["jobs"], "spark.jobGroup.id")
    n = len(spans.durations("sink"))
    med = {k: statistics.median(spans.durations(k)) for k in LAYERS}
    m = {
        "sources.scan_s": cum["sources"],
        "parsing.parse_s": cum["parsing"] - cum["sources"],
        "correlate.correlate_s": med["correlate"],
        # the snapshot's first action fills the parse cache: subtract it
        "metrics.snapshot_s": med["metrics"] - cum["parsing"],
        "metrics.snapshot_jobs": len(groups.get("metrics", [])) / n,
        "sink.render_ms": med["sink"] * 1e3,
    }
    per_pass = spark_counts(j for g in LAYERS for j in groups.get(g, []))
    m.update({k: v / n for k, v in per_pass.items()})
    return m
