"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

It turns one application's log into jobs, stages, tasks and SQL
executions, resolves SQL metric accumulators to the plan node that owns
them, and sums what a set of jobs did: counts, shuffle and output bytes,
GC, and the Python exec-node metrics (MapInArrow / MapInPandas and the
other Python nodes report boot, init and run time, bytes sent and
returned, and rows).  The same reader serves the in-process session and
``spark-submit``, whose plans the benchmark cannot reach from outside.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
ROWS = "number of output rows"
SCAN_TIME = "scan time"
WRITTEN_FILES = "number of written files"


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    output_bytes: int
    accums: dict[int, float]

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Stage:
    stage_id: int
    name: str
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    group: str | None
    sql_id: int | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class SqlExecution:
    exec_id: int
    plan: str
    start_ms: int
    end_ms: int = 0


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.sql: dict[int, SqlExecution] = {}
        # accumulator id -> (plan node name, metric name, metric type)
        self.metrics: dict[int, tuple[str, str, str]] = {}
        self.driver_accums: dict[int, float] = {}
        self.app_start_ms = 0
        self.app_end_ms = 0
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def single_in(cls, directory: str) -> "EventLog":
        """The one finished application log written into ``directory``."""
        logs = [p for p in glob.glob(os.path.join(directory, "*")) if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {logs}")
        return cls(logs[0])

    def _plan(self, info: dict) -> None:
        node = info.get("nodeName", "")
        for m in info.get("metrics", []):
            self.metrics[m["accumulatorId"]] = (node, m["name"], m.get("metricType", ""))
        for child in info.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerApplicationStart":
            self.app_start_ms = e["Timestamp"]
        elif kind == "SparkListenerApplicationEnd":
            self.app_end_ms = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"],
                props.get("spark.jobGroup.id"),
                int(sql_id) if sql_id is not None else None,
                e["Submission Time"],
                stage_ids=list(e.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], info["Stage Name"]))
            st.submit_ms = info.get("Submission Time", 0)
            st.complete_ms = info.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"], ""))
            st.tasks.append(
                Task(
                    e["Stage ID"],
                    info["Launch Time"],
                    info["Finish Time"],
                    m.get("JVM GC Time", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    {a["ID"]: _num(a.get("Update")) for a in info.get("Accumulables", [])},
                )
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = SqlExecution(
                e["executionId"],
                e.get("physicalPlanDescription", ""),
                e["time"],
            )
            self._plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]].end_ms = e["time"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                self.driver_accums[acc_id] = self.driver_accums.get(acc_id, 0.0) + _num(value)

    # ------------------------------------------------------------------

    def jobs_in(self, group: str | None = None) -> list[Job]:
        """Jobs of one job group (``SparkContext.setJobGroup``), or all."""
        return [j for j in self.jobs.values() if group is None or j.group == group]

    def _python_nodes(self) -> set[str]:
        return {node for node, name, _ in self.metrics.values() if name == PY_SENT}

    def summary(self, jobs: list[Job]) -> dict:
        """Counts, bytes, GC and Python exec-node metrics over ``jobs``."""
        stage_ids = {s for j in jobs for s in j.stage_ids if s in self.stages}
        stages = [self.stages[s] for s in sorted(stage_ids)]
        tasks = [t for s in stages for t in s.tasks]
        py_nodes = self._python_nodes()
        py = {PY_SENT: 0.0, PY_RECEIVED: 0.0, PY_BOOT: 0.0, PY_INIT: 0.0, PY_RUN: 0.0, ROWS: 0.0}
        udf_task_ms = []
        scan_ms = 0.0
        for t in tasks:
            sent = 0.0
            for acc_id, v in t.accums.items():
                node, name, mtype = self.metrics.get(acc_id, ("", "", ""))
                if name == SCAN_TIME and node.startswith("Scan "):
                    scan_ms += v / 1e6 if mtype == "nsTiming" else v
                elif node in py_nodes and name in py:
                    py[name] += v / 1e6 if mtype == "nsTiming" else v
                    if name == PY_SENT:
                        sent += v
            if sent > 0:
                udf_task_ms.append(t.duration_ms)
        mid = statistics.median(udf_task_ms) if udf_task_ms else 0
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "output_bytes": sum(t.output_bytes for t in tasks),
            "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "py_sent_bytes": py[PY_SENT],
            "py_received_bytes": py[PY_RECEIVED],
            "py_boot_ms": py[PY_BOOT],
            "py_init_ms": py[PY_INIT],
            "py_total_ms": py[PY_RUN],
            "py_rows": py[ROWS],
            "udf_task_skew": max(udf_task_ms) / mid if mid else 0.0,
            "scan_s": scan_ms / 1e3,
        }

    def median_summary(self, groups: list[str]) -> dict:
        """Median over job groups (one group per pass) of each summary field."""
        per = [self.summary(self.jobs_in(g)) for g in groups]
        return {k: statistics.median(p[k] for p in per) for k in per[0]}

    def written_files(self) -> int:
        return int(
            sum(v for acc_id, v in self.driver_accums.items() if self.metrics.get(acc_id, ("", ""))[1] == WRITTEN_FILES)
        )

    def spans(self) -> list[dict]:
        """Job -> stage -> task spans (epoch ms), each naming its parent."""
        out = []
        for j in self.jobs.values():
            out.append({"id": f"job{j.job_id}", "parent": j.group, "name": "job", "start": j.start_ms, "end": j.end_ms})
            for s in j.stage_ids:
                st = self.stages.get(s)
                if st is None:
                    continue
                sid = f"stage{s}"
                out.append({"id": sid, "parent": f"job{j.job_id}", "name": st.name, "start": st.submit_ms, "end": st.complete_ms})
                for i, t in enumerate(st.tasks):
                    out.append({"id": f"{sid}.task{i}", "parent": sid, "name": "task", "start": t.launch_ms, "end": t.finish_ms})
        return out


def spark_layers(m: dict) -> dict:
    """Per-layer metrics of the extraction stage from a ``summary``."""
    return {
        "extraction.jobs": m["jobs"],
        "extraction.stages": m["stages"],
        "extraction.tasks": m["tasks"],
        "extraction.shuffle_bytes": m["shuffle_bytes"],
        "extraction.task_skew": m["udf_task_skew"],
        "sources.scan_s": m["scan_s"],
        "sources.write_bytes": m["output_bytes"],
        "jvm.gc_s": m["gc_s"],
        **udf_layers(m),
    }


def udf_layers(m: dict) -> dict:
    """UDF-boundary metrics (Python exec nodes) from a ``summary``."""
    return {
        "udf.py_boot_ms": m["py_boot_ms"],
        "udf.py_init_ms": m["py_init_ms"],
        "udf.py_total_ms": m["py_total_ms"],
        "udf.data_sent_bytes": m["py_sent_bytes"],
        "udf.data_received_bytes": m["py_received_bytes"],
        "udf.rows": m["py_rows"],
    }
