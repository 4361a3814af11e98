"""Spans, self time, and the fold of Spark's event log into layers.

Spans are recorded by the benchmark around its calls into the package
(run -> pass -> query -> build | action). Spark's jobs and stages are
joined to the query span by job group: every call sets the group
``<call id>.build`` or ``<call id>.action`` before calling in. Jobs a
streaming query launches run on the stream's own thread under the
stream's group, so they are joined to the call whose build window
contains their submission time.

Everything here reads public surfaces only: the uncompressed JSON
event log (``spark.eventLog.enabled``), and ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import asdict, dataclass
from datetime import datetime
from pathlib import Path


@dataclass
class Span:
    id: str
    parent: str | None
    name: str
    start: float  # epoch seconds
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """Each span's duration minus the part its children cover.

    Children may overlap each other (parallel stages); the covered part
    is the union of their intervals clipped to the parent.
    """
    children: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.dur - covered
    return out


def write_spans(path: Path, spans: list[Span]) -> None:
    selfs = self_times(spans)
    path.write_text(
        json.dumps([{**asdict(s), "self": selfs[s.id]} for s in spans], indent=0)
    )


# ---------------------------------------------------------------- /proc


def _children(pid: int) -> list[int]:
    kids = []
    task_dir = Path(f"/proc/{pid}/task")
    try:
        tids = [t.name for t in task_dir.iterdir()]
    except OSError:
        return kids
    for tid in tids:
        try:
            kids += [int(x) for x in (task_dir / tid / "children").read_text().split()]
        except OSError:
            pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def _cmdline(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()
    except OSError:
        return ""


def _status_kb(pid: int, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def spark_processes(pid: int | None = None) -> tuple[list[int], list[int]]:
    """(JVM pids, Python worker pids) started under this process."""
    jvms, pys = [], []
    for p in descendants(pid or os.getpid()):
        cmd = _cmdline(p)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            pys.append(p)
        elif "java" in cmd.split(" ", 1)[0]:
            jvms.append(p)
    return jvms, pys


def alive(pids: list[int]) -> list[int]:
    """The processes among ``pids`` that exist and are not zombies."""
    out = []
    for p in pids:
        try:
            state = Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(p)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs so far, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime of the processes plus that of their reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            fields = Path(f"/proc/{p}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


# ------------------------------------------------------------ event log

# SQL metric names (as the plan info reports them) per layer metric.
SCAN_METRICS = {
    "number of files read": "catalog.scan_files",
    "size of files read": "catalog.scan_bytes",
    "number of output rows": "catalog.scan_rows",
    "scan time": "catalog.scan_time_s",
}
BROADCAST_METRICS = {
    "data size": "operators.broadcast_bytes",
    "time to collect": "operators.broadcast_build_s",
    "time to build": "operators.broadcast_build_s",
    "time to broadcast": "operators.broadcast_build_s",
}
# Python exec nodes (ArrowEvalPython, MapInPandas, ...) carry these.
# Their output rows are the rows sent for the 1:1 nodes (scalar pandas
# UDFs) and the per-event state functions the workloads run.
PYTHON_METRICS = {
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_recv",
    "number of output rows": "operators.python_rows_sent",
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_start_s",
}
NODE_METRICS = {"scan": SCAN_METRICS, "broadcast": BROADCAST_METRICS, "python": PYTHON_METRICS}
# Streaming progress durationMs keys per layer metric.
STREAM_PHASES = {
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "latestOffset": "streaming.latest_offset_s",
    "getBatch": "streaming.get_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_s",
}

LAYER_SUMS = [
    "catalog.scan_files",
    "catalog.scan_bytes",
    "catalog.scan_rows",
    "catalog.scan_time_s",
    "queries.build_jobs",
    "queries.plan_s",
    "queries.jobs",
    "queries.stages",
    "queries.tasks",
    "queries.driver_result_bytes",
    "operators.task_s",
    "operators.cpu_s",
    "operators.gc_s",
    "operators.straggler_s",
    "operators.exchanges",
    "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes",
    "operators.shuffle_records",
    "operators.shuffle_write_s",
    "operators.shuffle_fetch_wait_s",
    "operators.spill_mem_bytes",
    "operators.spill_disk_bytes",
    "operators.broadcast_bytes",
    "operators.broadcast_build_s",
    "operators.failed_tasks",
    "operators.retried_stages",
    "operators.python_rows_sent",
    "operators.python_bytes_sent",
    "operators.python_bytes_recv",
    "operators.python_run_s",
    "operators.python_start_s",
]


def read_eventlog(path: Path) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _walk_plan(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk_plan(c)


def _metric_value(value: float, metric_type: str) -> float:
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return value


def fold_eventlog(events: list[dict], calls: list[dict]) -> dict[str, float]:
    """Per-layer totals over the given calls.

    ``calls`` are the timed query calls: ``id`` (the job-group prefix),
    ``build`` and ``action`` as ``[start, end]`` epoch seconds. Jobs,
    stages and tasks outside them (set-up, the output check) are not
    counted.
    """
    windows = [(c["build"][0], c["build"][1], c["id"]) for c in calls]
    call_ids = {c["id"] for c in calls}
    job_call: dict[int, str] = {}  # job -> call id
    first_action_job: dict[str, float] = {}  # call id -> submission time
    stage_job: dict[int, int] = {}
    exec_call: dict[int, str] = {}
    plans: dict[int, dict] = {}  # execution -> its final plan
    exec_accs: dict[int, set[int]] = defaultdict(set)
    metric_info: dict[int, tuple[str, str, str]] = {}  # acc -> node, name, type
    acc_total: dict[int, float] = defaultdict(float)
    task_times: dict[tuple[int, int], list[float]] = defaultdict(list)
    layers: dict[str, float] = defaultdict(float)

    def note_plan(exec_id: int, plan: dict) -> None:
        plans[exec_id] = plan
        for node in _walk_plan(plan):
            metrics = node.get("metrics", [])
            if any(m["name"] == "data sent to Python workers" for m in metrics):
                node_kind = "python"
            elif "BroadcastExchange" in node["nodeName"]:
                node_kind = "broadcast"
            elif node["nodeName"].startswith("Scan"):
                node_kind = "scan"
            else:
                node_kind = ""
            for m in metrics:
                metric_info[m["accumulatorId"]] = (node_kind, m["name"], m["metricType"])
                exec_accs[exec_id].add(m["accumulatorId"])

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            call, _, phase = group.rpartition(".")
            t = ev["Submission Time"] / 1e3
            if call not in call_ids:
                call = next((cid for a, b, cid in windows if a <= t <= b), None)
                phase = "stream"
            if call is None:
                continue
            jid = ev["Job ID"]
            job_call[jid] = call
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            if "spark.sql.execution.id" in props:
                exec_call[int(props["spark.sql.execution.id"])] = call
            layers["queries.jobs"] += 1
            if phase == "build":
                layers["queries.build_jobs"] += 1
            if phase == "action":
                first_action_job[call] = min(first_action_job.get(call, t), t)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            note_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            note_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in ev.get("accumUpdates", []):
                acc_total[acc] += value
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid, attempt = info["Stage ID"], info.get("Stage Attempt ID", 0)
            if stage_job.get(sid) not in job_call:
                continue
            layers["queries.stages"] += 1
            if attempt > 0:
                layers["operators.retried_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if stage_job.get(sid) not in job_call:
                continue
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            layers["queries.tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                layers["operators.failed_tasks"] += 1
            task_times[(sid, ev.get("Stage Attempt ID", 0))].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
            layers["operators.task_s"] += tm.get("Executor Run Time", 0) / 1e3
            layers["operators.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            layers["operators.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            layers["queries.driver_result_bytes"] += tm.get("Result Size", 0)
            layers["operators.spill_mem_bytes"] += tm.get("Memory Bytes Spilled", 0)
            layers["operators.spill_disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
            layers["operators.peak_exec_mem_bytes"] = max(
                layers["operators.peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            layers["operators.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            layers["operators.shuffle_records"] += sw.get("Shuffle Records Written", 0)
            layers["operators.shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            sr = tm.get("Shuffle Read Metrics") or {}
            layers["operators.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            layers["operators.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":  # SQL metrics log as strings
                    acc_total[acc["ID"]] += float(acc["Update"])

    for times in task_times.values():
        layers["operators.straggler_s"] += max(times) - statistics.median(times)

    timed_accs = set()
    for exec_id in exec_call:
        timed_accs |= exec_accs.get(exec_id, set())
        for node in _walk_plan(plans.get(exec_id, {})):
            if node.get("nodeName") == "Exchange":
                layers["operators.exchanges"] += 1
    for acc, total in acc_total.items():
        if acc not in timed_accs or acc not in metric_info:
            continue
        node_kind, name, mtype = metric_info[acc]
        layer = NODE_METRICS.get(node_kind, {}).get(name)
        if layer is not None:
            layers[layer] += _metric_value(total, mtype)

    for c in calls:
        a0, a1 = c["action"]
        layers["queries.plan_s"] += first_action_job.get(c["id"], a1) - a0
    return dict(layers)


STREAM_SUMS = [
    "streaming.batches",
    "streaming.rows_in",
    "streaming.start_s",
    *STREAM_PHASES.values(),
    "streaming.state_rows_total",
    "streaming.state_rows_updated",
    "streaming.state_commit_s",
]


def unit(name: str) -> str:
    """Unit of a metric, from its name's suffix."""
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_bytes") or "_bytes_" in name:
        return "bytes"
    if name.endswith(("_s", ".s")) or "_s." in name:
        return "s"
    return "count"


def epoch(ts: str) -> float:
    """Epoch seconds of a progress timestamp such as 2024-01-01T00:00:00.000Z."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def job_spans(events: list[dict]) -> list[Span]:
    """One span per job, parented to its job group (call phase or stream run)."""
    start: dict[int, tuple[float, str | None]] = {}
    spans = []
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            start[ev["Job ID"]] = (ev["Submission Time"] / 1e3, group)
        elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in start:
            t0, group = start[ev["Job ID"]]
            spans.append(
                Span(f"job{ev['Job ID']}", group, "job", t0, ev["Completion Time"] / 1e3)
            )
    return spans


def stream_windows(progress: list[dict], started: dict[str, float]) -> dict[str, tuple]:
    """Each stream run's [start, end of its last micro-batch], epoch seconds."""
    ends: dict[str, float] = {}
    for p in progress:
        end = epoch(p["timestamp"]) + p.get("durationMs", {}).get("triggerExecution", 0) / 1e3
        ends[p["runId"]] = max(ends.get(p["runId"], end), end)
    return {run: (started[run], end) for run, end in ends.items() if run in started}


def fold_progress(progress: list[dict], started: dict[str, float]) -> dict:
    """Streaming-layer totals from StreamingQueryListener progress.

    ``progress`` holds each micro-batch's progress JSON; ``started``
    maps each run id to its QueryStartedEvent time (epoch seconds).
    """
    out: dict[str, float] = defaultdict(float)
    batch_s = []
    first_batch: dict[str, float] = {}
    last: dict[str, dict] = {}
    for p in progress:
        d = p.get("durationMs", {})
        out["streaming.batches"] += 1
        out["streaming.rows_in"] += p.get("numInputRows", 0)
        batch_s.append(d.get("triggerExecution", 0) / 1e3)
        for key, name in STREAM_PHASES.items():
            out[name] += d.get(key, 0) / 1e3
        ops = p.get("stateOperators", [])
        out["streaming.state_rows_updated"] += sum(o.get("numRowsUpdated", 0) for o in ops)
        out["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
        out["streaming.state_mem_bytes"] = max(
            out["streaming.state_mem_bytes"], sum(o.get("memoryUsedBytes", 0) for o in ops)
        )
        run = p.get("runId")
        t = epoch(p["timestamp"])
        first_batch[run] = min(first_batch.get(run, t), t)
        if run not in last or p.get("batchId", 0) >= last[run].get("batchId", 0):
            last[run] = p
    for p in last.values():
        out["streaming.state_rows_total"] += sum(
            o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])
        )
    for run, t in first_batch.items():
        if run in started:
            out["streaming.start_s"] += max(0.0, t - started[run])
    out["batch_s"] = batch_s
    return dict(out)
