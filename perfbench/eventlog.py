"""Fold a Spark event log into per-pass, per-label layer numbers.

The benchmark tags every Spark job it causes: calls made from its own
code run under ``setJobGroup("<workload>/<op>/<phase>", "pass=<n>")``.
Jobs a streaming query launches from its micro-batch thread carry no such
tag; the benchmark drains one stream at a time, so those are assigned by
submission time to the stream's (pass, label) window. This module reads the
uncompressed event log written with ``spark.eventLog.enabled=true``,
assigns every job, stage, task and SQL execution to its (pass, label),
and sums the task metrics, the stage-busy time and the plan-node counts
of each execution's final adaptive plan.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

# only these events are parsed; every other line is skipped unread
_WANTED = (
    b'"SparkListenerJobStart"',
    b'"SparkListenerStageCompleted"',
    b'"SparkListenerTaskEnd"',
    b"SparkListenerSQLExecutionStart",
    b"SparkListenerSQLAdaptiveExecutionUpdate",
)
_PASS = re.compile(r"pass=(\d+)")

TASK_SUMS = {
    # metric: (path into "Task Metrics", scale to the metric's unit)
    "exec.run_s": (("Executor Run Time",), 1e-3),
    "exec.cpu_s": (("Executor CPU Time",), 1e-9),
    "exec.deser_s": (("Executor Deserialize Time",), 1e-3),
    "exec.gc_s": (("JVM GC Time",), 1e-3),
    "exec.spill_mb": (("Disk Bytes Spilled",), 1 / 2**20),
    "shuffle.write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1 / 2**20),
    "shuffle.fetch_wait_s": (("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
    "scan.read_mb": (("Input Metrics", "Bytes Read"), 1 / 2**20),
}
PLAN_COUNTS = ("plan.exchanges", "plan.smj", "plan.bhj", "plan.scans")


def _log_lines(log_dir: str):
    """Lines of every event-log file under ``log_dir``, in write order
    (a rolling log splits into ``events_<n>_...`` files)."""
    def order(p: str):
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not p.endswith(".crc")]
    for path in sorted(files, key=order):
        with open(path, "rb") as fh:
            yield from fh


def _dig(d: dict, path: tuple) -> float:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def _plan_counts(node: dict, acc: dict) -> None:
    name = node.get("nodeName", "")
    if name in ("Exchange", "BroadcastExchange"):
        acc["plan.exchanges"] += 1
    elif name.startswith("SortMergeJoin"):
        acc["plan.smj"] += 1
    elif name.startswith("BroadcastHashJoin"):
        acc["plan.bhj"] += 1
    elif name.startswith("Scan ") or name.startswith("BatchScan"):
        acc["plan.scans"] += 1
    for child in node.get("children", ()):
        _plan_counts(child, acc)


def fold(log_dir: str, windows: list[tuple[float, float, int, str]]) -> dict:
    """Per (pass, label) numbers from the event log in ``log_dir``.

    A job is assigned by its job group and ``pass=<n>`` description;
    an untagged job goes to the ``(start_ms, end_ms, pass, label)``
    window of ``windows`` its submission time falls in, or is left out.
    Returns
    ``{"groups": {(pass, label): {metric: value}},
    "stage_spans": {pass: [(start_ms, end_ms), ...]}}``.
    """
    stage_owner: dict[int, tuple[int, str]] = {}
    exec_owner: dict[int, tuple[int, str]] = {}
    final_plan: dict[int, dict] = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    spans: dict = defaultdict(list)
    for line in _log_lines(log_dir):
        if not any(w in line for w in _WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            m = _PASS.search(props.get("spark.job.description") or "")
            if m and gid.count("/") == 2:
                owner = (int(m.group(1)), gid)
            else:
                t = ev.get("Submission Time", 0)
                owner = next(((p, lab) for lo, hi, p, lab in windows
                              if lo <= t <= hi), None)
                if owner is None:
                    continue
            g = groups[owner]
            g["sched.jobs"] += 1
            if gid.endswith("/build"):
                g["queries.build_jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_owner.setdefault(sid, owner)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_owner.setdefault(int(eid), owner)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            owner = stage_owner.get(info["Stage ID"])
            if owner is None or "Completion Time" not in info:
                continue
            groups[owner]["sched.stages"] += 1
            spans[owner[0]].append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev["Stage ID"])
            if owner is None:
                continue
            g = groups[owner]
            g["sched.tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            for metric, (path, scale) in TASK_SUMS.items():
                g[metric] += _dig(tm, path) * scale
        else:  # SQL execution start or adaptive re-plan: keep the last plan
            final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for eid, plan in final_plan.items():
        owner = exec_owner.get(eid)
        if owner is not None:
            acc = dict.fromkeys(PLAN_COUNTS, 0)
            _plan_counts(plan, acc)
            for k, v in acc.items():
                groups[owner][k] += v
    return {"groups": {k: dict(v) for k, v in groups.items()},
            "stage_spans": dict(spans)}


def union_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(spans):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
