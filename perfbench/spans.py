"""Per-call tracing and host-weather figures for the benchmark.

Tracing uses Spark's own event log. The session starts with
``spark.eventLog.enabled`` pointing into the run's work directory, and
the event logger is detached from the listener bus straight away, so
set-up, warm-up and the untraced ops write nothing. ``attach`` puts it
back for each traced op; every call the benchmark makes there runs
under its own job group. After ``spark.stop()`` has closed the log,
``fold`` sums ``SparkListenerTaskEnd`` metrics and the Python SQL
metrics per job group.

Nothing here touches the engine's code: the spans are the benchmark's
calls into the public functions.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

# Spark 4.1 PythonSQLMetrics display names -> benchmark keys. Both timing
# metrics are millisecond SQL timing metrics; both sizes are bytes.
PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to run Python workers": "py_total_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a plain, uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Job-group spans around benchmark calls, recorded by the event log.

    ``log_dir`` is None when the session has no event log; then, and
    whenever the logger is detached, ``group`` is a no-op, so untraced
    ops pay only a flag test per call. The logger is private Spark API
    reached through py4j (``eventLogger``, ``listenerBus``)."""

    def __init__(self, spark, log_dir: str | None):
        self.sc = spark.sparkContext
        self.active = False
        self._logger = None
        if log_dir is not None:
            jsc = self.sc._jsc.sc()
            self._logger = jsc.eventLogger().get()
            jsc.removeSparkListener(self._logger)

    def attach(self) -> None:
        if self._logger is None:
            return
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        bus.addToEventLogQueue(self._logger)
        self.active = True

    def detach(self) -> None:
        if not self.active:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._logger)
        self.active = False

    def group(self, group_id: str | None) -> None:
        """Tag the jobs that follow with ``group_id``; None clears it."""
        if self.active:
            self.sc.setLocalProperty("spark.jobGroup.id", group_id)


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """Event log -> ``{job_group: {metric: total}}``.

    Metrics per group: ``jobs``, ``tasks``, ``job_ms`` (sum of job
    submission-to-completion spans), ``exec_run_ms``, ``exec_cpu_ns``,
    ``shuffle_write_bytes``, ``spill_bytes`` and the ``PY_METRICS``
    values. Jobs without a group are dropped."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = gid
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = gid
                    out[gid]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        out[job_group[jid]]["job_ms"] += (
                            ev["Completion Time"] - job_start[jid]
                        )
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    g = out[gid]
                    g["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    g["exec_run_ms"] += tm.get("Executor Run Time", 0)
                    g["exec_cpu_ns"] += tm.get("Executor CPU Time", 0)
                    g["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_METRICS.get(acc.get("Name"))
                        if key is not None and acc.get("Update") is not None:
                            g[key] += float(acc["Update"])
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks from the aggregate line of /proc/stat; (0, 0)
    where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return fields[7], sum(fields)


class Host:
    """Host-weather record for one run: CPU steal share over the run and a
    calibration time (fixed pure-Python loop plus a fixed trivial Spark
    job). Neither adjusts any end-to-end figure; they let a disagreement
    between two sets of runs be traced to the machine."""

    def __init__(self):
        self._ticks0 = _cpu_ticks()
        self.calib_ms: list[float] = []

    def calibrate(self, spark) -> None:
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        spark.range(0, 1000, numPartitions=1).count()
        self.calib_ms.append(1000 * (time.perf_counter() - t0))

    def steal_frac(self) -> float:
        steal1, total1 = _cpu_ticks()
        steal0, total0 = self._ticks0
        return (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
