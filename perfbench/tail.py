"""log_tail: open loop against the real CLI in a child process.

The exporter runs with ``--listen``, ``--sink-path`` and a fresh
``--checkpoint``, with its default session timeout and trigger. The
benchmark writes seeded segments of ``SEG_S`` of traffic, each atomically
(write, then rename) as a new file of the log directory, because the file
source reads a file once. One poller thread scrapes ``/metrics``; a segment
is reflected once every checked counter has reached its cumulative
expected value through that segment.

Phases:

1. set-up: CLI start until the first segment is reflected
2. warm-up at the reference rate (the JIT is still compiling; not measured)
3. reference rate for ``--seconds``: freshness
4. reference rate until the next micro-batch ends
5. the ladder, ×2 steps from 500 to 16000 lines/s
6. drain, then SIGTERM

Sustained rate. A micro-batch takes every file present when it starts, so
a batch of n lines takes about a + b·n, and the backlog grows without bound
once the line rate passes what the engine drains per second. The ladder
(one segment per step, 1.5 s in all) starts right after a batch ends. The
batch then running outlasts it, so the next batch takes the whole ladder,
about 7,900 lines, at once. ``lines_per_s`` is the drain rate of that
backlog: the lines of the batches after the one running when the ladder
started, over their run time. The ladder is short so that the batch
running at its start does not end inside it and split it; its top steps
are large so that the drain lasts long enough (5–10 s on a 4-core box) to
average out second-to-second noise, yet a traced run (a traced and an
untraced run in one) stays well inside its time limit. Steps long enough
to judge backlog growth one by one (several batches each) do not fit a
run.
"""

from __future__ import annotations

import os
import re
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from collections import Counter

from . import common
from .loggen import TRAFFIC, LogGenerator, mismatches, parse_exposition
from .trace import read_event_log, spark_counts

REF_RATE = 250
LADDER = (500, 1000, 2000, 4000, 8000, 16000)
LADDER_STEP_S = 0.25
SEG_S = TRAFFIC["segment_s"]
WARMUP_S = 10
POLL_S = 0.05
START_TIMEOUT_S = 120
DRAIN_TIMEOUT_S = 60
STREAM_ERROR = re.compile(r'Exception in thread "stream execution thread for (\S+)')


class Poller(threading.Thread):
    """Scrapes /metrics and marks segments reflected, in order."""

    def __init__(self, url: str, segments: list[dict]) -> None:
        super().__init__(daemon=True)
        self.url, self.segments = url, segments
        self.k = 0  # segments[:k] are reflected
        self.scrape_ms: list[float] = []
        self.advances: list[tuple[float, int]] = []  # (time, k after)
        self.stop_event = threading.Event()
        self.error: str | None = None

    def scrape(self) -> Counter:
        t = time.perf_counter()
        with urllib.request.urlopen(self.url, timeout=10) as r:
            body = r.read().decode()
        self.scrape_ms.append((time.perf_counter() - t) * 1e3)
        return parse_exposition(body)

    def run(self) -> None:
        while not self.stop_event.is_set():
            try:
                obs = self.scrape()
            except OSError as e:
                self.error = str(e)
                return
            now = time.perf_counter()
            k = self.k
            while k < len(self.segments) and all(obs[key] >= v for key, v in self.segments[k]["cum"].items()):
                self.segments[k]["reflected"] = now
                k += 1
            if k != self.k:
                self.k = k
                self.advances.append((now, k))
            self.stop_event.wait(POLL_S)


class Writer:
    """Generates segments and writes them atomically on a fixed schedule."""

    def __init__(self, seed: int, log_dir: str, tmp_dir: str) -> None:
        self.gen = LogGenerator(seed)
        self.log_dir, self.tmp_dir = log_dir, tmp_dir
        self.cum: Counter = Counter()
        self.segments: list[dict] = []
        self.late: list[float] = []
        self.due: float | None = None  # None: write now and restart the schedule

    def write(self, phase: str, rate: int) -> None:
        due = self.due or time.perf_counter()
        if self.due is not None:
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
            self.late.append(time.perf_counter() - due)
        lines, delta = self.gen.chunk(round(rate * SEG_S), SEG_S)
        self.cum.update(delta)
        name = f"clickhouse-server.{len(self.segments):06d}.log"
        with open(os.path.join(self.tmp_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(os.path.join(self.tmp_dir, name), os.path.join(self.log_dir, name))
        self.segments.append({"phase": phase, "lines": len(lines), "cum": Counter(self.cum),
                              "due": due})
        self.due = due + SEG_S

    def run_for(self, seconds: float, phase: str, rate: int) -> None:
        for _ in range(round(seconds / SEG_S)):
            self.write(phase, rate)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def run(seed: int, seconds: float, eventlog_dir: str | None = None, ladder: bool = True) -> dict:
    """One run of the phases above; without ``ladder`` it ends after the
    reference phase and its drain, and ``lines_per_s`` is NaN."""
    t0 = time.perf_counter()
    work = common.fresh_dir("tail")
    log_dir, tmp_dir = os.path.join(work, "log"), os.path.join(work, "tmp")
    os.makedirs(log_dir)
    os.makedirs(tmp_dir)
    port = _free_port()
    err_path = os.path.join(work, "cli.stderr")
    with open(err_path, "w") as err:
        child = subprocess.Popen(
            [sys.executable, "-m", "prometheus_clickhouselog_exporter_spark", log_dir,
             "--listen", f"127.0.0.1:{port}", "--checkpoint", os.path.join(work, "ckpt"),
             "--sink-path", os.path.join(work, "sessions")],
            env=common.spark_env(eventlog_dir), stdout=subprocess.DEVNULL, stderr=err,
        )
    try:
        return _drive(child, port, Writer(seed, log_dir, tmp_dir), err_path, work, t0,
                      seconds, eventlog_dir, ladder)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()


def _drive(child, port, w: Writer, err_path, work, t0, seconds, eventlog_dir, ladder) -> dict:
    segments = w.segments
    poller = Poller(f"http://127.0.0.1:{port}/metrics", segments)
    deadline = time.perf_counter() + START_TIMEOUT_S
    while True:
        try:
            poller.scrape()
            break
        except OSError:
            if child.poll() is not None or time.perf_counter() > deadline:
                raise RuntimeError("exporter did not start serving /metrics")
            time.sleep(0.1)
    poller.scrape_ms.clear()
    poller.start()
    w.write("first", REF_RATE)
    while poller.k < 1:
        if time.perf_counter() > deadline or poller.error:
            raise RuntimeError("first segment never reflected")
        time.sleep(POLL_S)
    setup_s = time.perf_counter() - t0

    # Open loop from here: each segment is due SEG_S after the previous
    # one, however far behind the exporter is.
    w.due = None
    w.run_for(WARMUP_S, "warmup", REF_RATE)
    common.reset_peak_rss(child.pid)
    w.run_for(seconds, "reference", REF_RATE)
    boundary = len(poller.advances)
    if ladder:
        pad_deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while len(poller.advances) == boundary and time.perf_counter() < pad_deadline:
            w.write("pad", REF_RATE)
        boundary = len(poller.advances)
        w.due = None
        for r in LADDER:
            w.run_for(LADDER_STEP_S, f"ladder{r}", r)
    backlog_lines = sum(s["lines"] for s in segments[poller.k:])
    drain_deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    while poller.k < len(segments) and time.perf_counter() < drain_deadline and not poller.error:
        time.sleep(POLL_S)
    poller.stop_event.set()
    poller.join()
    final = poller.scrape()
    rss = common.peak_rss_mb(child.pid)

    err_before_stop = os.path.getsize(err_path)
    child.send_signal(signal.SIGTERM)
    try:
        child.wait(timeout=60)
    except subprocess.TimeoutExpired:
        child.kill()
    with open(err_path, errors="replace") as f:
        text = f.read()
    run_errors = STREAM_ERROR.findall(text[:err_before_stop])
    stop_errors = STREAM_ERROR.findall(text[err_before_stop:])

    bad = mismatches(w.cum, final)
    want_sessions = sum(v for k, v in w.cum.items()
                        if k.startswith("query_time_count|") and not k.endswith("|insert"))
    got_sessions = _parquet_rows(os.path.join(work, "sessions"))
    correct = not bad and got_sessions == want_sessions and not run_errors
    notes = []
    if not correct:
        notes.append(f"log_tail: final mismatch {bad} sessions {got_sessions}/{want_sessions} "
                     f"stream errors {run_errors}")
    if stop_errors:
        notes.append(f"log_tail: stream thread errors at stop: {stop_errors}")

    fresh = [s["reflected"] - s["due"] for s in segments
             if s["phase"] == "reference" and "reflected" in s]
    drains = _batches(poller.advances[boundary:], segments) if ladder else []
    sustained = (sum(n for n, _ in drains) / sum(t for _, t in drains)) if drains else float("nan")
    metrics = {
        "lines_per_s": (sustained, "1/s"),
        "latency_p50_s": (statistics.median(fresh) if fresh else float("nan"), "s"),
        "latency_p95_s": (common.pct(fresh, 95) if fresh else float("nan"), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MiB"),
    }
    ends = [(t, segments[k - 1]["phase"]) for t, k in poller.advances]
    notes.append("batch ends apart, s: "
                 + " ".join(f"{b - a:.2f}{p[0]}" for (a, _), (b, p) in zip(ends, ends[1:])))
    notes.append(f"freshness n={len(fresh)} segments at {REF_RATE} lines/s"
                 + ("; ladder drained in " + ", ".join(f"({n} lines, {t:.2f} s)" for n, t in drains)
                    if drains else ""))
    layers = {}
    if eventlog_dir:
        layers = _layers(read_event_log(eventlog_dir))
        layers.update({
            "http.scrape_ms_p50": statistics.median(poller.scrape_ms),
            "http.scrape_ms_p95": common.pct(poller.scrape_ms, 95),
            "gen.late_ms_max": max(w.late) * 1e3,
            "backlog.lines_end_of_ladder": backlog_lines,
            "ladder.held_lines_per_s": max((r for r in (REF_RATE, *LADDER) if r <= sustained), default=0),
            "pipeline.stop_errors": len(stop_errors),
        })
    return {"metrics": metrics, "layers": layers, "attempted": len(segments),
            "failed": len(segments) - poller.k, "correct": correct, "notes": notes}


def _batches(advances: list[tuple[float, int]], segments: list[dict]) -> list[tuple[int, float]]:
    """(lines, seconds) of each micro-batch that ended at one of
    ``advances`` and started at the one before: a segment was already
    waiting then, so the batch started at once."""
    out = []
    for (t0, k0), (t1, k1) in zip(advances, advances[1:]):
        if segments[k0]["due"] <= t0:
            out.append((sum(s["lines"] for s in segments[k0:k1]), t1 - t0))
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet").count_rows()


def _layers(ev: dict) -> dict[str, float]:
    """Micro-batch phases, state size and per-batch Spark counts from the
    event log's progress events and job properties."""
    def rows(p: dict) -> int:
        return sum(s.get("numInputRows", 0) for s in p.get("sources", []))

    names = ev["queries"]
    prog = {"ch_log_sessions": [], "ch_log_lines": []}
    for p in ev["progress"]:
        if p.get("name") in prog and rows(p) > 0:
            prog[p["name"]].append(p)
    sess = prog["ch_log_sessions"]
    state = [(p.get("stateOperators") or [{}])[0] for p in sess]

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) / 1e3 for p in sess]

    trig = dur("triggerExecution")
    by_batch: dict[tuple[str, str], list[dict]] = {}
    for j in ev["jobs"].values():
        qid, bid = j["props"].get("sql.streaming.queryId"), j["props"].get("streaming.sql.batchId")
        if qid is not None and bid is not None:
            by_batch.setdefault((names.get(qid, qid), bid), []).append(j)
    data_batches = {str(p["batchId"]) for p in sess}
    sink_jobs = [js for (q, b), js in by_batch.items() if q == "ch_log_sessions" and b in data_batches]
    m = {
        "sink.jobs_per_batch": statistics.median(len(js) for js in sink_jobs),
        "sink.agg_s": statistics.median(
            (max(j.get("end_ms") or j["start_ms"] for j in js) - min(j["start_ms"] for j in js)) / 1e3
            for js in sink_jobs),
        "pipeline.lines_query_trigger_s": statistics.median(
            p["durationMs"]["triggerExecution"] / 1e3 for p in prog["ch_log_lines"]),
        "pipeline.trigger_s_p50": statistics.median(trig),
        "pipeline.trigger_s_p95": common.pct(trig, 95),
        "pipeline.add_batch_s": statistics.median(dur("addBatch")),
        "pipeline.wal_commit_s": statistics.median(dur("walCommit")),
        "pipeline.commit_offsets_s": statistics.median(dur("commitOffsets")),
        "pipeline.latest_offset_s": statistics.median(dur("latestOffset")),
        "pipeline.query_planning_s": statistics.median(dur("queryPlanning")),
        "pipeline.rows_per_batch": statistics.median(rows(p) for p in sess),
        "pipeline.batches": len(sess),
        "session_state.fold_s": statistics.median(o.get("allUpdatesTimeMs", 0) / 1e3 for o in state),
        "session_state.timeout_scan_s": statistics.median(o.get("allRemovalsTimeMs", 0) / 1e3 for o in state),
        "session_state.rows_total": state[-1].get("numRowsTotal", 0),
        "session_state.memory_bytes": state[-1].get("memoryUsedBytes", 0),
    }
    streaming_jobs = [j for js in by_batch.values() for j in js]
    m.update({k: v / len(sess) for k, v in spark_counts(streaming_jobs).items()})
    return m
