"""Shared pieces of the benchmark: statistics, spans, the Spark session
it runs against, peak memory, and the Spark event-log reader.

Everything here sits outside the package and only calls its public
functions; the package itself is not modified to be measured.
"""

from __future__ import annotations

import json
import os
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: every file a run writes lives under here (ignored by git)
WORK_ROOT = os.path.join(HERE, "_work")


# -- statistics -----------------------------------------------------------
def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """The highest percentile (capped at p99) that still has at least
    ten samples beyond it."""
    return max(0.5, min(0.99, (n - 10) / n)) if n > 20 else 0.5


# -- spans ----------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, request id), written
    out once at the end. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent=None, request_id=None, **attrs) -> None:
        if self.enabled:
            span = {"id": len(self.spans), "name": name, "start": start, "end": end,
                    "parent": parent, "request_id": request_id}
            span.update(attrs)
            self.spans.append(span)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        if self.enabled:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(self.spans, f)


# -- run directory and session -------------------------------------------
def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(run_dir: str, event_log: bool):
    """The engine session via the package's own factory and its own Java
    options, with every scratch directory (Spark local dirs, JVM and
    Python temp files, warehouse, event log) moved inside ``run_dir``.

    The driver heap is the package's ``SPARK_GRAFT_DRIVER_MEM`` setting,
    2g unless the caller sets it: under the 8g default the heap G1
    commits, and so the peak RSS, follows the host's speed (peak RSS
    spread 0.24-0.29 of its median over five seeds, against 0.09-0.13
    at 2g), and a run stays small on a shared machine."""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = fresh_dir(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and Python workers
    # the launcher JVM behind spark-submit: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    conf = {
        "spark.local.dir": fresh_dir(os.path.join(run_dir, "local")),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + fresh_dir(os.path.join(run_dir, "eventlog")),
            # Spark 4 compresses with zstd by default; read it as plain JSON
            "spark.eventLog.compress": "false",
        })
    from kassette_server_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- memory -----------------------------------------------------------------
def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def cpu_steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total else 0.0


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop, a reading of the host's
    speed at the moment: on a shared virtual machine it moves by half
    between phases of minutes, and every timed metric with it."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i
        times.append(time.perf_counter() - t)
    return round(sorted(times)[1], 4)


# -- event log ------------------------------------------------------------
_PY_METRIC = "time to run Python workers"


def read_event_log(run_dir: str) -> dict[str, dict]:
    """Per-job-group execution totals from the (stopped) session's event
    log: jobs, stages, tasks, executor run/CPU time, Python-worker time,
    shuffle bytes, GC and spill."""
    log_dir = os.path.join(run_dir, "eventlog")
    # Spark 4 writes a directory per application (eventlog_v2_<app>/events_<n>_<app>)
    names = sorted(
        (int(n.split("_")[1]) if n.startswith("events_") else 0, os.path.join(d, n))
        for d, _, files in os.walk(log_dir) for n in files
        if not n.startswith((".", "appstatus"))
    )
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
            "executor_cpu_ms": 0.0, "python_ms": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "gc_ms": 0.0, "spill_bytes": 0,
        })

    for _, path in names:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    gname = props.get("spark.jobGroup.id") or "none"
                    g = group(gname)
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gname
                    if "streaming.sql.batchId" in props:  # jobs of one micro-batch
                        group(f"{gname}/batch{props['streaming.sql.batchId']}")["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    group(stage_group.get(sid, "none"))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = group(stage_group.get(ev.get("Stage ID"), "none"))
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["executor_run_ms"] += m.get("Executor Run Time", 0)
                    g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_METRIC and acc.get("Update") is not None:
                            g["python_ms"] += float(acc["Update"])
    return groups


def now() -> float:
    """Wall clock, comparable with file mtimes and the gateway's
    ``receivedAt`` stamps."""
    return time.time()
