"""Spans around the calls into each layer, and Spark's event log folded
into them.

A span is ``{op, name, parent, t0, t1}`` with epoch-millisecond bounds (the
event log's clock).  Spans live in memory and are written out with the run
record.  While a span is open its Spark job group is ``pb|<op>|<name>``,
set from the benchmark's side, so every job the library submits from the
calling thread carries the span it ran in; jobs submitted from other
driver threads are placed by their submission time instead.
"""

from __future__ import annotations

import contextlib
import json
import time

COUNTERS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
    "python_bytes_sent",
    "python_bytes_received",
    "driver_floor_s",
)
# the layers whose spans get the engine counters
LAYERS = ("sources", "operators", "sinks")

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


class Tracer:
    """Records spans; a disabled tracer is a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def innermost(self) -> str | None:
        """Name of the innermost open span, if any."""
        return self._stack[-1]["name"] if self._stack else None

    @contextlib.contextmanager
    def span(self, op: str, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"op": op, "name": name, "parent": parent, "t0": time.time() * 1000.0}
        self._stack.append(rec)
        self.sc.setJobGroup(f"pb|{op}|{name}", name)
        try:
            yield
        finally:
            rec["t1"] = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                up = self._stack[-1]
                self.sc.setJobGroup(f"pb|{up['op']}|{up['name']}", up["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def parse_event_log(path: str) -> dict:
    """Jobs, stages and per-stage task totals from one event-log file."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "t0": None, "t1": None, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_fetch_wait_s": 0.0, "spill_bytes": 0,
            "python_bytes_sent": 0, "python_bytes_received": 0,
            "input_rows": 0, "input_bytes": 0,
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"t0": ev.get("Submission Time"),
                             "group": props.get("spark.jobGroup.id")}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                s = stage(info["Stage ID"])
                s["t0"] = info.get("Submission Time")
                s["t1"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                s = stage(ev["Stage ID"])
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                s["tasks"] += 1
                s["failed_tasks"] += int(bool(info.get("Failed")))
                s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                s["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                s["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                s["input_rows"] += im.get("Records Read", 0)
                s["input_bytes"] += im.get("Bytes Read", 0)
                for acc in info.get("Accumulables") or []:
                    name = acc.get("Name")
                    if name == _PY_SENT:
                        s["python_bytes_sent"] += int(acc.get("Update") or 0)
                    elif name == _PY_RECV:
                        s["python_bytes_received"] += int(acc.get("Update") or 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def fold(log: dict, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per-op counters ``{op: {"<layer>.<counter>": value}}``.

    A job belongs to the span named by its job group, else to the innermost
    span open at its submission.  Scan input (``input_rows``/``input_bytes``)
    is summed over the whole op, whichever span's job performed the scan:
    with lazy sources the scan runs inside the sink's write job.
    ``driver_floor_s`` is the span's wall time minus the union of all stage
    busy intervals inside it; ``sinks.commit_s`` is the sink span's tail
    after its last stage completed (the driver-side job commit)."""
    by_key = {(s["op"], s["name"]): s for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        out.setdefault(s["op"], {})

    def owner(job: dict) -> dict | None:
        g = job.get("group") or ""
        if g.startswith("pb|"):
            _, op, name = g.split("|", 2)
            return by_key.get((op, name))
        t = job.get("t0") or 0
        inside = [s for s in spans if s["t0"] <= t <= s["t1"]]
        return min(inside, key=lambda s: s["t1"] - s["t0"]) if inside else None

    stage_span: dict[int, dict] = {}
    for sid, jid in log["stage_job"].items():
        sp = owner(log["jobs"][jid])
        if sp is not None:
            stage_span[sid] = sp
    for jid, job in log["jobs"].items():
        sp = owner(job)
        if sp is not None:
            d = out[sp["op"]]
            d[f"{sp['name']}.jobs"] = d.get(f"{sp['name']}.jobs", 0) + 1
    for sid, st in log["stages"].items():
        sp = stage_span.get(sid)
        if sp is None:
            continue
        d = out[sp["op"]]
        d[f"{sp['name']}.stages"] = d.get(f"{sp['name']}.stages", 0) + 1
        for c in COUNTERS:
            if c in ("stages", "driver_floor_s"):
                continue
            d[f"{sp['name']}.{c}"] = d.get(f"{sp['name']}.{c}", 0) + st[c]
        for c in ("input_rows", "input_bytes"):
            d[f"sources.{c}"] = d.get(f"sources.{c}", 0) + st[c]
    busy = [
        (st["t0"], st["t1"]) for st in log["stages"].values()
        if st["t0"] is not None and st["t1"] is not None
    ]
    for s in spans:
        d = out[s["op"]]
        inside = [(max(a, s["t0"]), min(b, s["t1"])) for a, b in busy
                  if b > s["t0"] and a < s["t1"]]
        d[f"{s['name']}.driver_floor_s"] = (
            (s["t1"] - s["t0"]) - _union_ms(inside)
        ) / 1e3
        d[f"{s['name']}.wall_s"] = (s["t1"] - s["t0"]) / 1e3
        if s["name"] == "sinks":
            ends = [b for a, b in inside]
            d["sinks.commit_s"] = (s["t1"] - max(ends)) / 1e3 if ends else 0.0
    return out


def cli_counters(path: str) -> dict[str, float]:
    """Whole-application totals for the CLI subprocess's event log."""
    log = parse_event_log(path)
    return {
        "cli.jobs": len(log["jobs"]),
        "cli.input_bytes": sum(s["input_bytes"] for s in log["stages"].values()),
    }
