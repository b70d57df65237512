"""Spans, Spark event-log attribution, log-line counts and RSS sampling.

A span is recorded by the benchmark around each call into a layer's public
functions. In a traced run every span instance sets its own Spark job group
(`<span>#<n>`), so the event log attributes jobs, tasks, executor time,
Python-worker time and bytes, and shuffle bytes to exactly one span.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time

#: the per-layer spans, in pipeline order
SPANS = (
    "readers",
    "mentions",
    "relations",
    "canonicalize",
    "triples",
    "extract",
    "incremental.ingest",
    "incremental.replay",
    "incremental.read",
    "incremental.compact",
    "graph",
    "dedup.pairs",
    "dedup.components",
)
SPAN_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("task_s", "s"),
    ("core_util", "ratio"),
    ("python_s", "s"),
    ("py_mb", "MB"),
    ("shuffle_mb", "MB"),
    ("jobs", "count"),
    ("tasks", "count"),
)
RATIOS = (
    "mentions.window_overlap",
    "relations.pair_yield",
    "canonicalize.edge_yield",
    "triples.dedup_yield",
    "incremental.rows_per_file",
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    names = [("session.wall_s", "s")]
    names += [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_METRICS]
    names += [(r, "ratio") for r in RATIOS]
    names += [("pins_left", "count"), ("log.warn", "count"), ("log.error", "count")]
    return names


class Tracer:
    """In-memory span recorder. `span(name)` nests: each record keeps its
    parent's id. With `spark` set, each span instance runs under its own job
    group so the event log can attribute Spark work to it."""

    def __init__(self, spark=None):
        self.spark = spark
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self.records[self._stack[-1]] if self._stack else None
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{name}#{len(self.records)}",
            "pass": parent.get("pass") if parent else None,
            **attrs,
        }
        self.records.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc:
            sc.setJobGroup(rec["group"], name)
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc:
                group = parent["group"] if parent else None
                sc.setLocalProperty("spark.jobGroup.id", group)
                sc.setLocalProperty("spark.job.description", parent["name"] if parent else None)


def self_time(records: list[dict], rec: dict) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = (
        (max(c["start"], rec["start"]), min(c["end"], rec["end"]))
        for c in records
        if c["parent"] == rec["id"]
    )
    return (rec["end"] - rec["start"]) - _union_length(kids)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _empty_group() -> dict:
    return {"jobs": {}, "tasks": 0, "run_ms": 0, "python_ms": 0, "py_bytes": 0, "shuffle_bytes": 0}


def read_event_log(path: str) -> dict:
    """Per job group: job intervals and summed task metrics."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}

    def g(name):
        return groups.setdefault(name, _empty_group())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                name = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not name:
                    continue
                job_group[ev["Job ID"]] = name
                g(name)["jobs"][ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, name)
            elif kind == "SparkListenerJobEnd":
                name = job_group.get(ev["Job ID"])
                if name:
                    groups[name]["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                name = stage_group.get(ev["Stage ID"])
                if not name:
                    continue
                rec = g(name)
                tm = ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["run_ms"] += tm.get("Executor Run Time", 0)
                rec["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    an = acc.get("Name")
                    if an == "time to run Python workers":
                        rec["python_ms"] += int(acc.get("Update") or 0)
                    elif an in ("data sent to Python workers", "data returned from Python workers"):
                        rec["py_bytes"] += int(acc.get("Update") or 0)
    return groups


def span_metrics(rec: dict, groups: dict, cores: int) -> dict:
    """The SPAN_METRICS of one span instance."""
    wall = rec["end"] - rec["start"]
    g = groups.get(rec["group"]) or _empty_group()
    busy = _union_length(
        (max(s, rec["start"]), min(e if e is not None else rec["end"], rec["end"]))
        for s, e in g["jobs"].values()
    )
    task_s = g["run_ms"] / 1000.0
    return {
        "wall_s": wall,
        "driver_s": max(0.0, wall - busy),
        "task_s": task_s,
        "core_util": task_s / (wall * cores) if wall > 0 else 0.0,
        "python_s": g["python_ms"] / 1000.0,
        "py_mb": g["py_bytes"] / 1e6,
        "shuffle_mb": g["shuffle_bytes"] / 1e6,
        "jobs": len(g["jobs"]),
        "tasks": g["tasks"],
    }


def layer_report(records: list[dict], groups: dict, cores: int, passes: set) -> dict:
    """Median over the given passes of each span's metrics; spans that did
    not run in this workload report 0."""
    out = {}
    for span in SPANS:
        per_pass = [
            span_metrics(r, groups, cores)
            for r in records
            if r["name"] == span and r.get("pass") in passes
        ]
        for m, _ in SPAN_METRICS:
            vals = [p[m] for p in per_pass]
            out[f"{span}.{m}"] = statistics.median(vals) if vals else 0
    return out


LOG_RE = re.compile(r"\d\d/\d\d/\d\d \d\d:\d\d:\d\d (WARN|ERROR) ")
MARK_RE = re.compile(r"@@perfbench (begin|end) (\d+)")


def count_log_lines(path: str) -> dict[int, dict[str, int]]:
    """Spark WARN/ERROR lines per pass, using the pass markers the worker
    writes to the shared stderr stream."""
    counts: dict[int, dict[str, int]] = {}
    current = None
    with open(path, errors="replace") as f:
        for raw in f:
            for line in raw.split("\r"):
                m = MARK_RE.search(line)
                if m:
                    current = int(m.group(2)) if m.group(1) == "begin" else None
                    if current is not None:
                        counts.setdefault(current, {"WARN": 0, "ERROR": 0})
                    continue
                lm = LOG_RE.search(line)
                if lm and current is not None:
                    counts[current][lm.group(1)] += 1
    return counts


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree (the worker, its JVM and the Python
    workers), read from /proc. PySpark's worker daemon starts its own
    process group, so the tree is followed through parent links; every
    process seen is kept in `seen` (pid -> start time) for clean-up."""

    def __init__(self, root: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak_kb = 0
        self.seen: dict[int, str] = {}
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            tree = descendants(self.root)
            self.seen.update(tree)
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in tree))
            self._halt.wait(self.interval)

    def stop(self):
        self._halt.set()
        self.join()


def _stat(pid) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name; None if gone or a
    zombie. Index 0 is the state, 1 the parent pid, 19 the start time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of `root` and every live process below it."""
    children, start = {}, {}
    for entry in os.listdir("/proc"):
        fields = _stat(entry) if entry.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append(int(entry))
            start[int(entry)] = fields[19]
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in start:
            out[pid] = start[pid]
            todo.extend(children.get(pid, []))
    return out


def alive(procs: dict[int, str]) -> list[int]:
    """The pids of `procs` still running as the same process."""
    out = []
    for pid, start in procs.items():
        fields = _stat(pid)
        if fields and fields[19] == start:
            out.append(pid)
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
