"""Per-layer tracing from Spark's public status surfaces.

Traced runs (``--trace 1``) use it. Nothing here runs inside a timed
operation: the benchmark tags each operation's jobs (job group for batch
queries, Spark's own per-batch job description for stream epochs), keeps
each operation's wall window, and after the timed region reads back

- jobs, stages and SQL executions from the local UI REST API;
- Catalyst phase times from each executed ``QueryExecution.tracker()``,
  delivered by a ``QueryExecutionListener`` registered over py4j;
- JVM garbage-collection time and the JVM's peak resident set.
"""

from __future__ import annotations

import calendar
import json
import time
import urllib.request

from stats import driver_gap

PY_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}


def parse_rest_time(stamp: str) -> float:
    """UTC stamps as the REST API (``2026-10-17T04:03:16.493GMT``) and
    streaming progress (``2026-10-17T04:03:16.493Z``) write them -> epoch
    seconds."""
    base, frac = stamp.removesuffix("GMT").removesuffix("Z").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + (
        int(frac) / 10 ** len(frac)
    )


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as shown by the REST API, in seconds, bytes
    or rows: ``"864"``, ``"1.6 s"``, ``"20.6 KiB"``, or for per-task
    metrics ``"total (min, med, max (stageId: taskId))\\n3.5 s (...)"``."""
    line = text.split("\n")[-1].strip()
    head = line.split(" (")[0].replace(",", "").split()
    if not head:
        return 0.0
    value = float(head[0])
    if len(head) > 1:
        value *= _UNITS[head[1]]
    return value


class CatalystListener:
    """Collects the planning-tracker phases of every executed query."""

    def __init__(self) -> None:
        # appended from py4j callback threads, read after the timed region
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        ev = {}
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                p = phases.apply(name)
                ev[name] = p.durationMs() / 1e3
                ev.setdefault("start", p.startTimeMs() / 1e3)
        if ev:
            self.events.append(ev)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_catalyst_listener(spark) -> CatalystListener:
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    ensure_callback_server_started(gw)
    listener = CatalystListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


class RestSnapshot:
    """Jobs, stages and SQL executions of the application, read once."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        self.jobs = get("/jobs")
        self.stages: dict[int, list[dict]] = {}
        for st in get("/stages"):
            self.stages.setdefault(st["stageId"], []).append(st)
        self.sql = get("/sql?details=true&planDescription=false&length=100000")


def job_interval(job: dict) -> tuple[float, float]:
    start = parse_rest_time(job["submissionTime"])
    end = parse_rest_time(job["completionTime"]) if job.get(
        "completionTime"
    ) else start
    return start, end


def op_layers(
    snap: RestSnapshot,
    jobs: list[dict],
    start: float,
    end: float,
    catalyst_events: list[dict],
    cores: int,
) -> dict[str, float]:
    """Layer metrics of one operation: the jobs it launched and the
    Catalyst phases that started inside ``[start, end]``."""
    cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for ev in catalyst_events:
        if start <= ev["start"] <= end:
            for k in cat:
                cat[k] += ev.get(k, 0.0)
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    attempts = [a for s in stage_ids for a in snap.stages.get(s, [])]
    ran = [a for a in attempts if a["status"] != "SKIPPED"]
    run_s = sum(a["executorRunTime"] for a in ran) / 1e3
    wall = end - start
    job_ids = {j["jobId"] for j in jobs}
    py_run = py_rows = 0.0
    py_nodes = 0
    for ex in snap.sql:
        ex_jobs = set(ex["successJobIds"]) | set(ex["failedJobIds"]) | set(
            ex["runningJobIds"]
        )
        if not ex_jobs & job_ids:
            continue
        for node in ex["nodes"]:
            if not node["nodeName"].startswith(PY_NODES):
                continue
            py_nodes += 1
            for m in node["metrics"]:
                if m["name"] == "time to run Python workers":
                    py_run += parse_sql_metric(m["value"])
                elif m["name"] == "number of output rows":
                    py_rows += parse_sql_metric(m["value"])
    cat_total = sum(cat.values())
    return {
        "wall_s": wall,
        "catalyst.analysis_s": cat["analysis"],
        "catalyst.optimization_s": cat["optimization"],
        "catalyst.planning_s": cat["planning"],
        "catalyst_s": cat_total,
        "operators.jobs": float(len(jobs)),
        "operators.stages": float(len(ran)),
        "operators.tasks": float(sum(a["numCompleteTasks"] for a in ran)),
        "operators.run_s": run_s,
        "operators.cpu_s": sum(a["executorCpuTime"] for a in ran) / 1e9,
        "operators.busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "operators.shuffle_read_mb": sum(
            a["shuffleReadBytes"] for a in ran
        ) / 2**20,
        "operators.shuffle_write_mb": sum(
            a["shuffleWriteBytes"] for a in ran
        ) / 2**20,
        "operators.input_mb": sum(a["inputBytes"] for a in ran) / 2**20,
        "operators.output_mb": sum(a["outputBytes"] for a in ran) / 2**20,
        "operators.driver_gap_s": driver_gap(
            start, end, [job_interval(j) for j in jobs]
        ),
        "pyworker.nodes": float(py_nodes),
        "pyworker.run_s": py_run,
        "pyworker.rows": py_rows,
    }


def jvm_gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()
    ) / 1e3


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
