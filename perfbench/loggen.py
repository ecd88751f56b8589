"""Seeded ClickHouse-log generator with ground truth.

Lines are built with the package's own fixture builders
(``sources.fixtures``), so their format is the one the parser goldens pin.
Every line carries the counter deltas the exporter must add for it, so
each generated chunk of lines comes with the exact expected exposition
counters:

- ``read_lines``                       every line
- ``query_count|<type>``               each valid initial line
- ``query_errors|<type>|<code>``       each error line of an open session
- ``query_time_count|<type>``          each memory line of an open session
- ``errors|not_found_query``           each orphan stats/memory/error line
- ``errors|convert``                   each stats line with a bad byte unit

The traffic dimensions are the ``TRAFFIC`` table below.
"""

from __future__ import annotations

import heapq
import random
from collections import Counter
from datetime import datetime, timedelta

from prometheus_clickhouselog_exporter_spark.sources.fixtures import (
    error_line,
    initial_line,
    memory_line,
    stats_line,
)

# Assumed shares, not measured from a real server log: each is chosen to
# exercise one code path of the exporter. perfbench/README.md names the
# path and the basis of each; change them there too.
TRAFFIC = {
    "noise_share": 0.30,  # of lines: <Trace> lines and gate-passing non-query lines
    "orphan_share": 0.005,  # of lines: stats/memory/error line for an unseen id
    "insert_share": 0.10,  # of sessions: INSERTs never complete and stay in state
    "error_share": 0.06,  # of sessions: an error line before the memory line
    "error_open_share": 0.5,  # of error sessions: no memory line, stays in state
    "malformed_share": 0.01,  # of sessions: stats line with an unparseable byte unit
    "gap_s": [0.05, 2.0],  # initial → memory line, uniform, in log time
    "segment_s": 0.25,  # log time covered by one tail segment file
}

T0 = datetime(2024, 1, 1, 0, 0, 0)

_SQL = (
    ("select", "SELECT count() FROM hits WHERE CounterID = {n}", 0.70),
    ("update", "UPDATE hits SET a = {n}", 0.05),
    ("delete", "DELETE FROM hits WHERE a = {n}", 0.05),
    ("other", "OPTIMIZE TABLE hits_{n}", 0.10),
)
_CODES = ((60, "DB::Exception: Table default.missing doesn't exist."),
          (47, "DB::Exception: Unknown identifier: broken."),
          (241, "DB::Exception: Memory limit (for query) exceeded."))
_UNITS = ("512 B", "1.50 KiB", "7.63 MiB", "2.25 GiB")


class LogGenerator:
    """Emits lines at a notional log-time rate; state carries across calls,
    so sessions started in one chunk finish in a later one."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.seq = 0
        self.t = 0.0  # log time in seconds since T0
        self.pending: list = []  # (due_s, seq, kind, session)
        self.total: Counter = Counter()

    def _ts(self) -> datetime:
        return T0 + timedelta(seconds=self.t)

    def _new_session(self) -> tuple[str, Counter]:
        r = self.rng
        self.seq += 1
        qid = f"q{self.seq:09d}"
        if r.random() < TRAFFIC["insert_share"]:
            stmt, sql = "insert", f"INSERT INTO hits VALUES ({self.seq})"
        else:
            x, acc = r.random() * 0.90, 0.0
            for stmt, tmpl, w in _SQL:
                acc += w
                if x < acc:
                    break
            sql = tmpl.format(n=self.seq)
        pid = r.randrange(1000, 9999)
        s = {"qid": qid, "pid": pid, "stmt": stmt}
        gap = r.uniform(*TRAFFIC["gap_s"])
        malformed = r.random() < TRAFFIC["malformed_share"]
        self._push(self.t + gap * 0.4, "stats_bad" if malformed else "stats", s)
        has_error = r.random() < TRAFFIC["error_share"]
        if has_error:
            s["code"] = _CODES[r.randrange(len(_CODES))]
            self._push(self.t + gap * 0.7, "error", s)
        if not (has_error and r.random() < TRAFFIC["error_open_share"]):
            self._push(self.t + gap, "memory", s)
        host = f"10.0.{r.randrange(256)}.{r.randrange(1, 255)}"
        line = initial_line(self._ts(), pid, qid, host, r.randrange(30000, 60000), sql)
        return line, Counter({f"query_count|{stmt}": 1})

    def _push(self, due: float, kind: str, s: dict) -> None:
        self.seq += 1
        heapq.heappush(self.pending, (due, self.seq, kind, s))

    def _due_line(self) -> tuple[str, Counter]:
        _, _, kind, s = heapq.heappop(self.pending)
        ts, pid, qid, stmt = self._ts(), s["pid"], s["qid"], s["stmt"]
        r = self.rng
        if kind == "stats":
            rows = r.randrange(1, 10_000_000)
            unit = _UNITS[r.randrange(len(_UNITS))]
            return stats_line(ts, pid, qid, rows, unit, r.uniform(0.001, 9.0), rows, unit), Counter()
        if kind == "stats_bad":
            return stats_line(ts, pid, qid, 10, "7.63 XiQ", 1.0, 10, "1.00 MiB"), Counter({"errors|convert": 1})
        if kind == "error":
            code, msg = s["code"]
            return error_line(ts, pid, qid, code, msg), Counter({f"query_errors|{stmt}|{code}": 1})
        return memory_line(ts, pid, qid, _UNITS[r.randrange(len(_UNITS))]), Counter({f"query_time_count|{stmt}": 1})

    def _slot(self) -> tuple[str, Counter]:
        r = self.rng
        x = r.random()
        if x < TRAFFIC["noise_share"]:
            ts = self._ts().strftime("%Y.%m.%d %H:%M:%S.%f")
            if x < TRAFFIC["noise_share"] / 2:
                return f"{ts} [ 1 ] {{}} <Trace> Aggregator: Merging aggregated data", Counter()
            return f"{ts} [ 1 ] {{}} <Debug> MergeTreeDataPart: loaded part {self.seq}", Counter()
        if x < TRAFFIC["noise_share"] + TRAFFIC["orphan_share"]:
            self.seq += 1
            oid, ts = f"orphan{self.seq:09d}", self._ts()
            line = (memory_line(ts, 7, oid, "1.00 MiB"), error_line(ts, 7, oid, 62, "Syntax error"),
                    stats_line(ts, 7, oid, 5, "1.00 KiB", 0.1, 50, "10.00 KiB"))[self.seq % 3]
            return line, Counter({"errors|not_found_query": 1})
        if self.pending and self.pending[0][0] <= self.t:
            return self._due_line()
        return self._new_session()

    def chunk(self, n_lines: int, seconds: float) -> tuple[list[str], Counter]:
        """The next ``n_lines`` lines spread over ``seconds`` of log time,
        and the counter deltas they carry."""
        lines: list[str] = []
        delta: Counter = Counter()
        step = seconds / max(n_lines, 1)
        while len(lines) < n_lines:
            line, d = self._slot()
            lines.append(line)
            delta.update(d)
            self.t += step
        delta["read_lines"] += len(lines)
        self.total.update(delta)
        return lines, delta


def parse_exposition(text: str) -> Counter:
    """The counters this benchmark checks, keyed like the generator's."""
    out: Counter = Counter()
    for line in text.splitlines():
        if not line or line[0] == "#":
            continue
        name, _, value = line.rpartition(" ")
        labels = {}
        if "{" in name:
            name, _, rest = name.partition("{")
            for kv in rest.rstrip("}").split(","):
                k, _, v = kv.partition("=")
                labels[k] = v.strip('"')
        if name == "chlogexporter_read_lines":
            out["read_lines"] = int(value)
        elif name == "chlogexporter_errors":
            out[f"errors|{labels['type']}"] = int(value)
        elif name == "clickhouse_query_count":
            out[f"query_count|{labels['type']}"] = int(value)
        elif name == "clickhouse_query_errors":
            out[f"query_errors|{labels['type']}|{labels['code']}"] = int(value)
        elif name == "clickhouse_query_time_count":
            out[f"query_time_count|{labels.get('type', '')}"] = int(float(value))
    return out


def mismatches(expected: Counter, observed: Counter) -> dict[str, tuple[int, int]]:
    """Keys whose observed counter differs from the expected one."""
    keys = set(expected) | set(observed)
    return {k: (expected[k], observed[k]) for k in sorted(keys) if expected[k] != observed[k]}
