"""Span tree, pipeline stage windows and a Spark event-log parser.

Standard library only, so the arithmetic can be tested without Spark.

Span tree of one traced cold process:

    process -> setup -> step (append, run_pipeline, each query)
            -> pipeline stage window (rebuilt from `stage_seconds`)
            -> Spark job (parsed from the event log)

Times are epoch seconds on the host clock; Spark event-log times are
epoch milliseconds on the same clock.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# Order in which run_pipeline spends its stages; B2_drift runs at the
# very end of B_models and its seconds are included in B_models.
STAGE_ORDER = ("A_profile", "B_models", "C_decide", "D_metrics")
NESTED_STAGES = {"B2_drift": "B_models"}

PYTHON_SENT = "data sent to Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float
    kind: str = "span"
    children: list["Span"] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return max(self.end - self.start, 0.0)

    def self_time(self) -> float:
        """Duration minus the part covered by any child span (the union
        of the children clipped to this span, so overlapping children
        are not subtracted twice)."""
        covered = _union_length(
            [(max(c.start, self.start), min(c.end, self.end)) for c in self.children]
        )
        return max(self.duration - covered, 0.0)

    def add(self, child: "Span") -> "Span":
        self.children.append(child)
        return child

    def walk(self, depth: int = 0):
        yield depth, self
        for c in sorted(self.children, key=lambda s: s.start):
            yield from c.walk(depth + 1)

    def to_rows(self) -> list[dict]:
        return [
            {
                "depth": d,
                "kind": s.kind,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "duration_s": s.duration,
                "self_s": s.self_time(),
                **s.attrs,
            }
            for d, s in self.walk()
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_time(start: float, end: float, busy: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] that no interval in `busy` covers."""
    clipped = [(max(s, start), min(e, end)) for s, e in busy]
    return max((end - start) - _union_length(clipped), 0.0)


def stage_windows(start: float, stage_seconds: dict[str, float]) -> list[Span]:
    """Rebuild run_pipeline's stage windows from its `stage_seconds`.

    The pipeline stamps each stage back to back from its own start, so
    the windows are cumulative offsets from the start of the call. A
    nested stage (B2_drift) is placed at the end of its parent window,
    which is where the pipeline runs it."""
    out: list[Span] = []
    t = start
    for name in STAGE_ORDER:
        if name not in stage_seconds:
            continue
        w = Span(name, t, t + float(stage_seconds[name]), kind="stage")
        out.append(w)
        t = w.end
    for name, parent in NESTED_STAGES.items():
        if name in stage_seconds:
            for w in out:
                if w.name == parent:
                    w.add(Span(name, max(w.end - float(stage_seconds[name]), w.start), w.end, kind="stage"))
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_STAGE_KEYS = (
    "tasks",
    "failed_tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "input_bytes",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "memory_spill_bytes",
    "disk_spill_bytes",
    "python_bytes_sent",
)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines) -> dict:
    """Fold a Spark event log (JSON lines) into one row per job and one
    row per stage attempt.

    Stage rows carry the summed task metrics of that attempt (tasks,
    failed tasks, executor run/CPU/GC time, input, shuffle, spill), the
    summed SQL metric 'data sent to Python workers', and `scan_rows`:
    rows output by each file scan in the stage, keyed by the scan's
    location string from the SQL plan. Job rows carry their job group,
    SQL execution id, submission/completion time and stage ids.
    `scan_bytes` has one row per file scan: its SQL execution, location
    and 'size of files read' (the bytes of the files it opened; Spark's
    task input metric misses parquet reads done off the task thread)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    stage_job: dict[int, int] = {}
    scan_rows_acc: dict[int, str] = {}  # accumulator id -> scan location
    scan_size_acc: dict[int, str] = {}
    scan_bytes: dict[int, dict] = {}

    def plan_scans(node: dict) -> None:
        if node.get("nodeName", "").startswith("Scan"):
            loc = (node.get("metadata") or {}).get("Location", node.get("simpleString", ""))
            for m in node.get("metrics") or []:
                if m.get("name") == "number of output rows":
                    scan_rows_acc[int(m["accumulatorId"])] = loc
                elif m.get("name") == "size of files read":
                    scan_size_acc[int(m["accumulatorId"])] = loc
        for child in node.get("children") or []:
            plan_scans(child)

    def stage_row(sid: int, att: int) -> dict:
        key = (sid, att)
        if key not in stages:
            stages[key] = {"stage_id": sid, "attempt": att, "submitted": None,
                           "completed": None, "scan_rows": {}}
            stages[key].update({k: 0.0 for k in _STAGE_KEYS})
        return stages[key]

    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a torn last line of an in-progress log
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plan_scans(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("DriverAccumUpdates"):
            for acc, value in ev.get("accumUpdates") or []:
                if int(acc) in scan_size_acc:
                    prev = scan_bytes.get(int(acc), {}).get("bytes", 0.0)
                    scan_bytes[int(acc)] = {
                        "execution_id": ev.get("executionId"),
                        "location": scan_size_acc[int(acc)],
                        "bytes": max(prev, _num(value)),
                    }
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = int(ev["Job ID"])
            jobs[jid] = {
                "job_id": jid,
                "group": props.get("spark.jobGroup.id"),
                "execution_id": (
                    int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None
                ),
                "description": props.get("spark.job.description"),
                "submitted": _num(ev.get("Submission Time")) / 1000.0,
                "completed": None,
                "result": None,
                "stage_ids": list(ev.get("Stage IDs") or []),
            }
            for sid in jobs[jid]["stage_ids"]:
                stage_job.setdefault(int(sid), jid)
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(int(ev["Job ID"]))
            if j is not None:
                j["completed"] = _num(ev.get("Completion Time")) / 1000.0
                j["result"] = (ev.get("Job Result") or {}).get("Result")
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            row = stage_row(int(info["Stage ID"]), int(info.get("Stage Attempt ID", 0)))
            row["submitted"] = _num(info.get("Submission Time")) / 1000.0 or None
            row["completed"] = _num(info.get("Completion Time")) / 1000.0 or None
            accs = info.get("Accumulables") or []
            row["python_bytes_sent"] = sum(
                _num(a.get("Value")) for a in accs if a.get("Name") == PYTHON_SENT
            )
            for a in accs:
                loc = scan_rows_acc.get(int(a.get("ID", -1)))
                if loc is not None:
                    row["scan_rows"][loc] = row["scan_rows"].get(loc, 0.0) + _num(a.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            row = stage_row(int(ev["Stage ID"]), int(ev.get("Stage Attempt ID", 0)))
            row["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
                row["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            row["run_ms"] += _num(m.get("Executor Run Time"))
            row["cpu_ns"] += _num(m.get("Executor CPU Time"))
            row["gc_ms"] += _num(m.get("JVM GC Time"))
            row["memory_spill_bytes"] += _num(m.get("Memory Bytes Spilled"))
            row["disk_spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
            im = m.get("Input Metrics") or {}
            row["input_bytes"] += _num(im.get("Bytes Read"))
            row["input_records"] += _num(im.get("Records Read"))
            sr = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read")
            )
            sw = m.get("Shuffle Write Metrics") or {}
            row["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
    for (sid, _att), row in stages.items():
        row["job_id"] = stage_job.get(sid)
    return {
        "jobs": sorted(jobs.values(), key=lambda j: j["job_id"]),
        "stages": sorted(stages.values(), key=lambda s: (s["stage_id"], s["attempt"])),
        "scan_bytes": list(scan_bytes.values()),
    }


def read_event_log(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return parse_event_log(f)


def fold_stages(stage_rows: list[dict]) -> dict[str, float]:
    """Sum the per-stage metric columns over a set of stage rows."""
    out = {k: 0.0 for k in _STAGE_KEYS}
    for r in stage_rows:
        for k in _STAGE_KEYS:
            out[k] += r[k]
    out["stages"] = float(len(stage_rows))
    out["stage_retries"] = float(sum(1 for r in stage_rows if r["attempt"] > 0))
    return out


def attribute_jobs(jobs: list[dict], windows: list[Span]) -> dict[str, list[dict]]:
    """Assign each job to the innermost window its submission time
    falls in (a job that starts in B2 belongs to B2, not to B)."""
    flat: list[Span] = []
    for w in windows:
        flat.append(w)
        flat.extend(w.children)
    out: dict[str, list[dict]] = {w.name: [] for w in flat}
    for j in jobs:
        hit = None
        for w in flat:
            if w.start <= j["submitted"] < w.end and (hit is None or w.duration < hit.duration):
                hit = w
        if hit is not None:
            out[hit.name].append(j)
    return out
