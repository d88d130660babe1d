"""Per-layer tracing from outside the engine.

A span is a Spark job group set by the benchmark around one call into an
engine module. In a traced run every span also forces its own output, so
the jobs its call causes land inside it; the untraced run uses
``Tracer(None)``, whose spans only time and whose ``force`` is a no-op.

Job, task and SQL-node counters come from the Spark event log, read after
the session stops; JIT and GC time come from the driver JVM's MXBeans,
sampled at span boundaries.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark import StorageLevel

OTHER = "bench.other"    # a pass's jobs outside its spans; with pass -1,
                         # jobs that carried no job group at all
OPEN = "bench.open"      # pass -1: opening the inputs, before any pass


def jvm_times(spark) -> tuple[float, float]:
    """(JIT compile s, GC s) of the driver JVM since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
    gc = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
    return jit, gc / 1000.0


class Tracer:
    """Spans of one pass. ``spark`` None: spans time only, force nothing."""

    def __init__(self, spark=None, pass_id: int = 0):
        self.spark = spark
        self.pass_id = pass_id
        self.spans: dict[str, dict] = {}
        self._forced = []

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"{self.pass_id}:{name}", name)
            jit0, _ = jvm_times(self.spark)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec = {"wall_s": time.perf_counter() - t0}
            if sc is not None:
                rec["jit_s"] = jvm_times(self.spark)[0] - jit0
                sc.setJobGroup(f"{self.pass_id}:{OTHER}", OTHER)
            self.spans[name] = rec

    def force(self, df):
        """Materialize ``df`` inside the current span (traced runs only)."""
        if self.spark is None:
            return df
        if not df.is_cached:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._forced.append(df)
        df.count()
        return df

    def release(self) -> None:
        for df in self._forced:
            df.unpersist(blocking=True)
        self._forced.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"


def _plan_nodes(info: dict, out: list) -> None:
    out.append(info)
    for child in info.get("children", []):
        _plan_nodes(child, out)


def _group_key(props: dict) -> tuple[int, str]:
    p, span = (props.get("spark.jobGroup.id") or f"-1:{OTHER}").split(":", 1)
    return int(p), span


class EventLog:
    """Counters per (pass, span) from the event-log files in a directory."""

    def __init__(self, directory: str):
        self.jobs = {}                 # job id -> (pass, span)
        self.stage_owner = {}          # stage id -> (pass, span) of the
                                       # job that first declared it
        self.stage_group = {}          # stage id -> (pass, span) of the
                                       # job group it was submitted under
        self.tasks = defaultdict(list)     # (pass, span) -> task records
        self.app_task_ms = 0
        self.orphan_tasks = 0          # tasks of a stage no job started
        self.exec_owner = {}           # sql execution id -> (pass, span)
        self.stage_exec = {}           # stage id -> sql execution id
        self.acc_node = {}             # accumulator id -> plan node name
        # (pass, span) -> (sql execution id, node name) -> output rows
        self.node_rows = defaultdict(lambda: defaultdict(int))
        self._driver_updates = []      # (execution id, [(acc id, value)])
        for name in sorted(os.listdir(directory)):
            if name.startswith(".") or name.startswith("appstatus"):
                continue    # checksums and the rolling log's status marker
            with open(os.path.join(directory, name)) as fh:
                for line in fh:
                    self._event(json.loads(line))
        for xid, updates in self._driver_updates:
            key = self.exec_owner.get(xid, (-1, OTHER))
            for acc_id, value in updates:
                node = self.acc_node.get(acc_id)
                if node is not None and node[1] == ROWS:
                    self.node_rows[key][(xid, node[0])] += int(value)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            key = _group_key(props)
            self.jobs[e["Job ID"]] = key
            for sid in e["Stage IDs"]:
                # later jobs re-declare a stage whose shuffle they reuse
                self.stage_owner.setdefault(sid, key)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                self.exec_owner.setdefault(int(xid), key)
                for sid in e["Stage IDs"]:
                    self.stage_exec[sid] = int(xid)
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            self.stage_group[sid] = _group_key(e.get("Properties") or {})
        elif kind.endswith("SparkListenerSQLExecutionStart") \
                or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            nodes = []
            _plan_nodes(e["sparkPlanInfo"], nodes)
            for n in nodes:
                for m in n.get("metrics", []):
                    self.acc_node[m["accumulatorId"]] = (n["nodeName"], m["name"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            self._driver_updates.append((e["executionId"], e["accumUpdates"]))
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            info = e["Task Info"]
            run_ms = tm.get("Executor Run Time", 0)
            self.app_task_ms += run_ms
            key = self.stage_owner.get(e["Stage ID"])
            if key is None:
                self.orphan_tasks += 1
                key = (-1, OTHER)
            rec = {
                "stage": e["Stage ID"], "run_ms": run_ms,
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "shuffle_b": (tm.get("Shuffle Write Metrics", {})
                              .get("Shuffle Bytes Written", 0)),
                "spill_b": tm.get("Disk Bytes Spilled", 0)
                + tm.get("Memory Bytes Spilled", 0),
                "out_b": tm.get("Output Metrics", {}).get("Bytes Written", 0),
                "py_ms": 0, "py_sent_b": 0,
            }
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == PY_TIME:
                    rec["py_ms"] += int(upd)    # a "timing" metric: ms
                elif name == PY_SENT:
                    rec["py_sent_b"] += int(upd)
                node = self.acc_node.get(acc.get("ID"))
                if node is not None and node[1] == ROWS:
                    xid = self.stage_exec.get(e["Stage ID"], -1)
                    self.node_rows[key][(xid, node[0])] += int(upd)
            self.tasks[key].append(rec)

    def span_stats(self, key) -> dict:
        tasks = self.tasks.get(key, [])
        by_stage = defaultdict(list)
        for t in tasks:
            by_stage[t["stage"]].append(t["run_ms"])
        by_exec = self.node_rows.get(key, {})
        rows = defaultdict(int)
        for (_, node), v in by_exec.items():
            rows[node] += v
        rows = dict(rows)
        last = max((x for x, _ in by_exec), default=None)   # the span's last query
        skew = 1.0
        if by_stage:
            # the heaviest stage: the one whose slowest task sets the wall
            runs = max(by_stage.values(), key=sum)
            skew = max(runs) / max(statistics.median(runs), 1.0)
        return {
            "jobs": sum(1 for k in self.jobs.values() if k == key),
            # stages that ran tasks: how many a job declares but skips
            # (reused shuffles) varies with adaptive re-planning
            "stages": len(by_stage),
            "task_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "py_s": sum(t["py_ms"] for t in tasks) / 1e3,
            "py_mb_in": sum(t["py_sent_b"] for t in tasks) / 2**20,
            "out_mb": sum(t["out_b"] for t in tasks) / 2**20,
            "shuffle_mb": sum(t["shuffle_b"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
            "skew": skew,
            "rows": rows,
            "rows_last": {n: v for (x, n), v in by_exec.items() if x == last},
        }

    def keys(self) -> set:
        return set(self.jobs.values()) | set(self.tasks)
