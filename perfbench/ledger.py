"""Per-layer readings taken from outside the engine.

- ``parse_eventlog``: Spark's own event log -> per-stage task totals, each
  stage sorted into a role by the operator names in its RDD scopes.
- ``stage_ledger``: role totals and whole-job figures over a set of jobs.
- ``peak_rss_mb``: sum of ``VmHWM`` over this process and its descendants
  (driver, JVM, Python workers), read from ``/proc``.
- ``JobCounter``: Spark jobs started during a call, from the status
  tracker's job ids before and after.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

ROLES = ("scan", "spans", "exchange", "reassemble", "write")

# Checked in order; the first role one of whose operators ran in a stage
# wins. A stage's operators are the SQL plan nodes whose metrics it updated
# (falling back to its RDD scope names). Python stages outrank scans so a
# fused read+UDF stage counts as span work; a stage that only moves rows
# between exchanges is "exchange".
_ROLE_OPS = (
    ("write", ("InsertIntoHadoopFsRelationCommand", "WriteFiles")),
    ("spans", ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
               "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")),
    ("scan", ("Scan parquet", "FileScan", "Scan ExistingRDD", "LocalTableScan",
              "InMemoryTableScan")),
    ("reassemble", ("HashAggregate", "ObjectHashAggregate", "SortAggregate",
                    "Window", "SortMergeJoin", "BroadcastHashJoin",
                    "ShuffledHashJoin", "BroadcastNestedLoopJoin")),
)

_PY = {
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
    "time to run Python workers": "run",
    "time to start Python workers": "start",
}


def stage_role(op_names) -> str:
    for role, ops in _ROLE_OPS:
        if any(op in name for name in op_names for op in ops):
            return role
    return "exchange"


def _event_files(log_dir: str) -> list[str]:
    """Event-log files of every application under ``log_dir``, rolling
    (``eventlog_v2_*/events_N_*``) or single-file, in write order."""
    files = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    files += sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                    if os.path.isfile(p) and not os.path.basename(p).startswith("."))
    return files


def _plan_nodes(info: dict, acc_node: dict[int, str]) -> None:
    """Record which plan node owns each SQL metric accumulator."""
    todo = [info]
    while todo:
        node = todo.pop()
        for metric in node.get("metrics", []):
            acc_node[metric["accumulatorId"]] = node["nodeName"]
        todo += node.get("children", [])


def parse_eventlog(log_dir: str) -> dict:
    """-> {"jobs": {job_id: {"group", "stages"}}, "stages": {stage_id: {...}}}.

    Stage figures are summed over the stage's successful task ends; python
    SQL metrics come from the stage's accumulables (driver-side totals)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    acc_node: dict[int, str] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_nodes(e["sparkPlanInfo"], acc_node)
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {"group": props.get("spark.jobGroup.id"),
                                         "stages": list(e["Stage IDs"])}
                elif kind == "SparkListenerTaskEnd":
                    if e.get("Task End Reason", {}).get("Reason") != "Success":
                        continue
                    m = e.get("Task Metrics") or {}
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    st["task_ms"].append(m.get("Executor Run Time", 0))
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    accs = info.get("Accumulables", [])
                    ops = {acc_node[a["ID"]] for a in accs if a.get("ID") in acc_node}
                    if not ops:
                        ops = {json.loads(r["Scope"])["name"] if r.get("Scope") else r.get("Name", "")
                               for r in info.get("RDD Info", [])}
                    st["role"] = stage_role(ops)
                    for acc in accs:
                        key = _PY.get(acc.get("Name"))
                        if key:
                            st["py_" + key] += int(acc.get("Value") or 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"role": "exchange", "task_ms": [], "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
            "py_sent_bytes": 0, "py_returned_bytes": 0, "py_run": 0, "py_start": 0}


def stage_ledger(log: dict, groups: set[str] | None = None) -> dict:
    """Totals over the stages of the jobs whose job group is in ``groups``
    (all jobs when None). Times in s, bytes in MB; ``task_skew`` is the
    largest per-stage (max task time / median task time) within a role.

    Spark reports the python timing metrics in milliseconds."""
    ids = set()
    n_jobs = 0
    for job in log["jobs"].values():
        if groups is None or job["group"] in groups:
            n_jobs += 1
            ids.update(job["stages"])
    out = {"jobs": n_jobs, "stages": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0}
    py = {"sent_mb": 0.0, "returned_mb": 0.0, "run_s": 0.0, "start_s": 0.0}
    roles = {r: {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
                 "shuffle_read_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0}
             for r in ROLES}
    for sid in ids:
        st = log["stages"].get(sid)
        if st is None or not st["task_ms"]:
            continue  # skipped (reused) stage: no tasks ran
        r = roles[st["role"]]
        vals = {"run_s": sum(st["task_ms"]) / 1e3, "cpu_s": st["cpu_ns"] / 1e9,
                "gc_s": st["gc_ms"] / 1e3, "shuffle_write_mb": st["shuffle_write"] / 1e6,
                "shuffle_read_mb": st["shuffle_read"] / 1e6, "spill_mb": st["spill"] / 1e6}
        for k, v in vals.items():
            r[k] += v
            out[k] += v
        med = statistics.median(st["task_ms"])
        if med > 0:
            r["task_skew"] = max(r["task_skew"], max(st["task_ms"]) / med)
        out["stages"] += 1
        py["sent_mb"] += st["py_sent_bytes"] / 1e6
        py["returned_mb"] += st["py_returned_bytes"] / 1e6
        py["run_s"] += st["py_run"] / 1e3
        py["start_s"] += st["py_start"] / 1e3
    out["roles"] = roles
    out["python"] = py
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process exited while we walked /proc
        pid = int(stat.split("/")[2])
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def descendants(root: int | None = None) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(root or os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    /proc/stat. Steal is time the hypervisor gave to other guests while one
    of this machine's CPUs wanted to run."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of ``root`` (the driver), the JVM and
    the Python workers below it, plus their sum under "total"."""
    root = root or os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = os.path.basename(f.read().split(b"\0")[0].decode(errors="replace"))
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                kb = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue  # exited while we looked
        part = "driver" if pid == root else "jvm" if argv0 == "java" else "workers"
        out[part] += kb / 1024.0
    out["total"] = sum(out.values())
    return out


class JobCounter:
    """Counts Spark jobs started inside a ``with`` block. The block's jobs
    run under job group ``group``, which also tags them in the event log."""

    def __init__(self, sc, group: str):
        self._sc = sc
        self._group = group
        self._tracker = sc.statusTracker()
        self.jobs = 0

    def _ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(self._group))

    def __enter__(self):
        self._sc.setJobGroup(self._group, self._group)
        self._before = self._ids()
        return self

    def __exit__(self, *exc):
        self.jobs = len(self._ids() - self._before)
        return False
