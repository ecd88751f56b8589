"""Helpers shared by the workloads: process memory, Spark environment,
percentiles and the work directory."""

from __future__ import annotations

import os
import shlex
import shutil

CORES = 4  # local[4], sized for a 4-core box
DRIVER_MEM = "2g"
# G1 grows the heap and sizes its young generation from measured GC and
# pause times, which host noise sets, and the JVM's peak RSS follows them.
# A fixed heap size (committed, not touched), a fixed young generation and
# a fixed marking threshold make GCs, and so RSS, follow allocation alone.
GC_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m -XX:-G1UseAdaptiveIHOP"
WORK = os.path.join("perfbench", ".work")


def spark_env(eventlog_dir: str | None = None) -> dict[str, str]:
    """Environment for a Spark driver sized to the box, with its scratch
    files kept in the work directory. The package reads the sizing
    variables in ``session.get_spark``; no program option is added. With
    ``eventlog_dir`` the driver also writes the Spark event log there
    (uncompressed, not rolled)."""
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    local = os.path.abspath(os.path.join(WORK, "spark-local"))
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    args = []
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true", "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{os.path.abspath(eventlog_dir)}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {GC_OPTS}",
             "pyspark-shell"]
    return dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
                SPARK_LOCAL_DIRS=local, TMPDIR=tmp, PYSPARK_SUBMIT_ARGS=shlex.join(args))


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def _driver_and_jvm(driver_pid: int) -> list[int]:
    return [driver_pid, *children(driver_pid)]


def reset_peak_rss(driver_pid: int) -> None:
    """Restart VmHWM of the driver and its JVM at their current RSS."""
    for pid in _driver_and_jvm(driver_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(driver_pid: int) -> float:
    """VmHWM of the Python driver plus its direct children (the JVM it
    launched; Python workers are the JVM's children), in MiB."""
    total_kb = 0
    for pid in _driver_and_jvm(driver_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in 0..100."""
    v = sorted(values)
    k = max(1, -(-len(v) * q // 100))
    return v[int(k) - 1]
