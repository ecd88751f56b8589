"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload log_backfill --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload traced and prints the per-layer metrics that ``BENCHMARK.json``
lists, plus the tracing overhead (traced minus untraced ``latency_p50_s``:
alternating passes in one session on log_backfill; on log_tail, a second,
untraced run that ends after its reference phase). The traced run also
writes them, sorted, to ``perfbench/results/<workload>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
only when every correctness check passed.

The repository root must be the working directory: Spark's Python workers
import the package from there.

The benchmark runs in a child process group under a supervisor that, on
every way out, stops and reaps every process the run started: Spark's JVM
outlives a Python driver that has exited, and the exporter child's JVM
outlives the exporter.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

WORKLOADS = ("log_backfill", "log_tail")
INNER = "PERFBENCH_INNER"  # set in the supervised child
RUN_TIMEOUT_S = 170  # a run must end within 180 s
STOP_GRACE_S = 10  # SIGTERM, then SIGKILL after this long
PR_SET_CHILD_SUBREAPER = 36


def per_layer() -> dict[str, str]:
    """Per-layer metric names and units, as ``BENCHMARK.json`` lists them.
    A workload reports 0 for a layer it does not exercise (no streaming
    engine in log_backfill, no batch scan in log_tail). spark.* are per
    pass on log_backfill and per sessions micro-batch on log_tail."""
    with open("BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _workload(name: str):
    # Importing the package here makes a checkout without it fail early,
    # before any result is printed.
    import prometheus_clickhouselog_exporter_spark  # noqa: F401

    if name == "log_backfill":
        from perfbench import backfill

        return backfill
    from perfbench import tail

    return tail


def _orphans() -> list[int]:
    """Processes whose parent is this one: the run's child and, with this
    process a subreaper, every descendant orphaned when its parent ended."""
    from perfbench import common

    return common.children(os.getpid())


def _stop_all(group: int) -> None:
    """SIGTERM the run's process group and every orphan; SIGKILL what is
    left after ``STOP_GRACE_S``; return once every descendant is reaped."""
    try:
        os.killpg(group, signal.SIGTERM)
    except ProcessLookupError:
        pass
    sent: set[int] = set()
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        late = time.monotonic() > deadline
        for pid in _orphans():
            if late or pid not in sent:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                sent.add(pid)
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a new process group and stop every process it
    started before returning its exit code. A run that outlasts
    ``RUN_TIMEOUT_S`` is stopped and fails without a result line."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    child = subprocess.Popen([sys.executable, os.path.join("perfbench", "run.py"), *argv],
                             env=dict(os.environ, **{INNER: "1"}), start_new_session=True)

    def forward(signum, _frame) -> None:
        try:
            os.killpg(child.pid, signum)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run did not end within {RUN_TIMEOUT_S} s; stopped", file=sys.stderr)
        code = 124
    _stop_all(child.pid)
    return code


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the exporter child is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    mod = _workload(args.workload)
    from perfbench import common

    if args.trace:
        units = per_layer()
        eventlog = os.path.join(common.WORK, f"eventlog-{args.workload}")
        common.fresh_dir(f"eventlog-{args.workload}")
        r = mod.run(args.seed, args.seconds, eventlog_dir=os.path.abspath(eventlog))
        layers = dict.fromkeys(units, 0.0) | r["layers"]
        if "trace.overhead_s" not in r["layers"]:
            # The program runs in a child process, which cannot be traced
            # for part of a run: compare with an untraced run of the same
            # schedule up to the end of its reference phase.
            base = mod.run(args.seed, args.seconds, ladder=False)
            layers["trace.overhead_s"] = (r["metrics"]["latency_p50_s"][0]
                                          - base["metrics"]["latency_p50_s"][0])
            r["attempted"] += base["attempted"]
            r["failed"] += base["failed"]
            r["correct"] = r.get("correct", True) and base["correct"]
            r["notes"] += [f"untraced: {n}" for n in base["notes"]]
        metrics = {k: (layers[k], u) for k, u in units.items()}
    else:
        r = mod.run(args.seed, args.seconds)
        metrics = r["metrics"]

    values = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    correct = bool(r.get("correct", True)) and r["failed"] == 0 and all(
        math.isfinite(m["value"]) for m in values.values())
    for note in r["notes"]:
        print(note)
    for k, m in values.items():
        print(f"  {k:36s} {m['value']:.6g} {m['unit']}")
    if args.trace:
        os.makedirs(os.path.join("perfbench", "results"), exist_ok=True)
        with open(os.path.join("perfbench", "results", f"{args.workload}.json"), "w") as f:
            json.dump({k: m["value"] for k, m in values.items()}, f, indent=1, sort_keys=True)
            f.write("\n")
    result = {"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
              "metrics": values}
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]) if os.environ.get(INNER) else supervise(sys.argv[1:]))
