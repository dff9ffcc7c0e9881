"""Tracing for the per-layer run: spans written by the benchmark around
public library calls, the Spark event log, and the attribution of
Spark jobs to spans.

Jobs are attributed to the innermost span that was open when they were
SUBMITTED, whatever thread submitted them: the library pins frames from
its own thread pools, and those threads do not inherit the caller's job
group, so job groups alone would lose them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from wl_loops import ROWS as LOOP_ROWS


class Tracer:
    """Records spans (name, start, end, parent, run id); a no-op when
    disabled so the untraced run pays nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Spans are opened from the benchmark's own (main) thread."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._open[-1]["id"] if self._open else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def read_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# --------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------

PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


def parse_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from one uncompressed event-log file. Times are
    epoch seconds; a task carries the id of the job its stage ran in."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "submit": ev["Submission Time"] / 1e3, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                py = sum(
                    int(a.get("Update", 0) or 0)
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in PYTHON_ACCUMULABLES
                )
                tasks.append(
                    {
                        "job": stage_job.get(ev["Stage ID"]),
                        "failed": ev.get("Task End Reason", {}).get("Reason") != "Success",
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "python_bytes": py,
                    }
                )
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"]), tasks


def read_event_logs(events_dir: str) -> tuple[list[dict], list[dict]]:
    jobs, tasks = [], []
    for p in sorted(glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(p) or os.path.basename(p).startswith("appstatus"):
            continue
        j, t = parse_event_log(p)
        jobs += j
        tasks += t
    return jobs, tasks


# --------------------------------------------------------------------
# attribution and aggregation
# --------------------------------------------------------------------


def innermost_span(spans: list[dict], t: float) -> dict | None:
    """The latest-starting span that was open at time ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def attribute_jobs(spans: list[dict], jobs: list[dict], tasks: list[dict]) -> dict[int, dict]:
    """{span id: {"jobs": n, "tasks": n}} by job submission time."""
    tasks_per_job: dict[int, int] = {}
    for t in tasks:
        tasks_per_job[t["job"]] = tasks_per_job.get(t["job"], 0) + 1
    out = {s["id"]: {"jobs": 0, "tasks": 0} for s in spans}
    for j in jobs:
        s = innermost_span(spans, j["submit"])
        if s is not None:
            out[s["id"]]["jobs"] += 1
            out[s["id"]]["tasks"] += tasks_per_job.get(j["id"], 0)
    return out


def union_length(intervals, within=None) -> float:
    """Total length of the union of (start, end) intervals, each first
    clipped to the union of the ``within`` intervals if given."""
    if within is not None:
        clipped = []
        for a, b in intervals:
            for c, d in within:
                lo, hi = max(a, c), min(b, d)
                if hi > lo:
                    clipped.append((lo, hi))
        intervals = clipped
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spark_metrics(jobs: list[dict], tasks: list[dict], windows: list[tuple]) -> dict[str, float]:
    """Spark execution metrics for the jobs submitted inside the timed
    ``windows`` (one (start, end) epoch-second interval per timed
    operation). Totals are per operation, so runs that fit a different
    number of operations into their time stay comparable."""
    inside = [j for j in jobs if any(a <= j["submit"] <= b for a, b in windows)]
    ids = {j["id"] for j in inside}
    ts = [t for t in tasks if t["job"] in ids]
    wall = sum(b - a for a, b in windows)
    busy = union_length([(j["submit"], j["end"]) for j in inside], within=windows)
    n_jobs, n_ops = len(inside), max(1, len(windows))

    def per_op(key):
        return sum(t[key] for t in ts) / n_ops

    return {
        "spark.driver_gap_ms": (wall - busy) * 1e3 / n_ops,
        "spark.jobs": n_jobs / n_ops,
        "spark.tasks_per_job": len(ts) / n_jobs if n_jobs else 0.0,
        "spark.executor_cpu_ms": per_op("cpu_ms"),
        "spark.executor_run_ms": per_op("run_ms"),
        "spark.gc_ms": per_op("gc_ms"),
        "spark.shuffle_read_bytes": per_op("shuffle_read"),
        "spark.shuffle_write_bytes": per_op("shuffle_write"),
        "spark.python_bytes": per_op("python_bytes"),
        "spark.spill_bytes": per_op("spill"),
        "spark.failed_tasks": sum(1 for t in ts if t["failed"]),
    }


# --------------------------------------------------------------------
# per-layer metrics of one traced run
# --------------------------------------------------------------------

STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets")
SOURCE_PHASES = ("getBatch", "latestOffset")

UNITS = {
    "batch.build_ms": "ms",
    "batch.collect_ms": "ms",
    "batch.jobs": "count",
    "batch.tasks": "count",
    "streaming.build_ms": "ms",
    "streaming.start_ms": "ms",
    **{f"streaming.{p}_ms": "ms" for p in STREAM_PHASES},
    **{f"sources.{p}_ms": "ms" for p in SOURCE_PHASES},
    "state.commit_ms": "ms",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.rows_total": "count",
    "state.rows_removed": "count",
    "state.rows_dropped_late": "count",
    **{
        f"queries.{r}.{k}": u
        for r in LOOP_ROWS
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"), ("build_tasks", "count"))
    },
    "spark.driver_gap_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks_per_job": "count",
    "spark.executor_cpu_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.python_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "trace.coverage": "share",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(res: dict, tracer: Tracer, events_dir: str) -> dict:
    """Every per-layer metric (0 for the layers a workload bypasses):
    medians over the timed operations of ``res`` and the calls made
    once per run (compiling the streaming query, the batch run that
    checks it)."""
    jobs, tasks = read_event_logs(events_dir)
    windows = res["windows"]
    spans = [s for s in tracer.spans if s["end"] is not None]
    attr = attribute_jobs(spans, jobs, tasks)
    timed = [s for s in spans if any(a <= s["start"] and s["end"] <= b for a, b in windows)]

    m = dict.fromkeys(UNITS, 0.0)
    once = {
        "batch.run_topology": "batch.build_ms",
        "batch.collect_records": "batch.collect_ms",
        "streaming.build": "streaming.build_ms",
        "streaming.start_queries": "streaming.start_ms",
    }
    for s in spans:
        if s["name"] in once:
            m[once[s["name"]]] = (s["end"] - s["start"]) * 1e3
        if s["name"].startswith("batch."):
            m["batch.jobs"] += attr[s["id"]]["jobs"]
            m["batch.tasks"] += attr[s["id"]]["tasks"]
    for r in LOOP_ROWS:
        build = [s for s in timed if s["name"] == f"queries.{r}.build"]
        execs = [s for s in timed if s["name"] == f"queries.{r}.exec"]
        m[f"queries.{r}.build_s"] = _median(s["end"] - s["start"] for s in build)
        m[f"queries.{r}.exec_s"] = _median(s["end"] - s["start"] for s in execs)
        m[f"queries.{r}.build_jobs"] = _median(attr[s["id"]]["jobs"] for s in build)
        m[f"queries.{r}.build_tasks"] = _median(attr[s["id"]]["tasks"] for s in build)

    progress = res.get("progress", [])
    if progress:
        for p in STREAM_PHASES:
            m[f"streaming.{p}_ms"] = _median(b["durationMs"].get(p, 0) for b in progress)
        for p in SOURCE_PHASES:
            m[f"sources.{p}_ms"] = _median(b["durationMs"].get(p, 0) for b in progress)
        ops = [b["stateOperators"][0] for b in progress if b.get("stateOperators")]
        m["state.commit_ms"] = _median(o["commitTimeMs"] for o in ops)
        m["state.rows_updated"] = _median(o["numRowsUpdated"] for o in ops)
        m["state.memory_bytes"] = max((o["memoryUsedBytes"] for o in ops), default=0)
        m["state.rows_total"] = max((o["numRowsTotal"] for o in ops), default=0)
        m["state.rows_removed"] = sum(o["numRowsRemoved"] for o in ops)
        m["state.rows_dropped_late"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        # share of trigger time the named phases account for
        covered = sum(
            b["durationMs"].get(p, 0) for b in progress for p in STREAM_PHASES + SOURCE_PHASES
        )
        m["trace.coverage"] = covered / sum(b["durationMs"]["triggerExecution"] for b in progress)
    else:
        # share of the timed phase spent inside the traced library calls
        phase = [(windows[0][0], windows[-1][1])]
        m["trace.coverage"] = union_length([(s["start"], s["end"]) for s in timed], phase) / (
            phase[0][1] - phase[0][0]
        )
    m.update(spark_metrics(jobs, tasks, windows))
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}
