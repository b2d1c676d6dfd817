"""Spans around calls into the program's layers, and their Spark jobs.

A span records a layer name, its parent span and its wall interval. With a
SparkContext attached, entering a span sets the job description to
``<layer>#<span id>`` and leaving it restores the parent's, so the
innermost span owns every job started inside it. After the session stops,
:func:`read_event_log` reads Spark's own event log and sums each job's
task metrics, which :class:`SpanJobs` then maps back onto spans.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# Spark 4.1's pythonTotalTime SQL metric (milliseconds) as it is named in
# the event log's task accumulables
PYTHON_TIME_METRIC = "time to run Python workers"


class Tracer:
    """In-memory span recorder. ``sc=None`` records wall time only, which
    is what the untraced run uses for its per-round times."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def traced(self) -> bool:
        return self.sc is not None

    def _describe(self, sid: int | None) -> None:
        if self.sc is not None:
            rec = self.spans[sid] if sid is not None else None
            self.sc.setJobDescription(f"{rec['layer']}#{sid}" if rec else None)

    @contextmanager
    def span(self, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def wrap(self, obj, method: str, layer: str, lake: str | None = None) -> list[dict]:
        """Replace ``obj.method`` by a spanned call; returns the list the
        call records are appended to. With tracing on and ``lake`` given,
        each record also counts the files the call created under it."""
        orig = getattr(obj, method)
        calls: list[dict] = []

        def spanned(*args, **kwargs):
            before = count_files(lake) if lake and self.traced else 0
            with self.span(layer) as rec:
                out = orig(*args, **kwargs)
            if lake and self.traced:
                rec["files"] = count_files(lake) - before
            calls.append(rec)
            return out

        setattr(obj, method, spanned)
        return calls

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        return kids


def count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def _span_id(description: str | None) -> int | None:
    if not description or "#" not in description:
        return None
    try:
        return int(description.rsplit("#", 1)[1])
    except ValueError:
        return None


def read_event_log(path: str) -> list[dict]:
    """Jobs of one application: span id, submit/complete time (epoch s)
    and task totals (tasks, run/GC/Python ms, shuffle and output bytes)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_totals: dict[int, Counter] = defaultdict(Counter)
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"')
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:40]
            if not any(w in head for w in wanted):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "span": _span_id(props.get("spark.job.description")),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            else:
                m = e.get("Task Metrics") or {}
                t = stage_totals[e["Stage ID"]]
                t["tasks"] += 1
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["output_bytes"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                t["py_ms"] += sum(
                    int(a.get("Update") or 0)
                    for a in (e.get("Task Info") or {}).get("Accumulables", [])
                    if a.get("Name") == PYTHON_TIME_METRIC
                )
    for job in jobs.values():
        job["totals"] = Counter()
    for sid, totals in stage_totals.items():
        if sid in stage_job:
            jobs[stage_job[sid]]["totals"].update(totals)
    return [dict(j, id=i) for i, j in sorted(jobs.items())]


def find_event_log(directory: str) -> str:
    logs = [
        os.path.join(directory, n)
        for n in os.listdir(directory)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, got {logs}")
    return logs[0]


class SpanJobs:
    """Jobs grouped by the span that owns them."""

    def __init__(self, tracer: Tracer, jobs: list[dict]):
        self.tracer = tracer
        self._kids = tracer.children()
        self._own: dict[int, list[dict]] = defaultdict(list)
        for j in jobs:
            if j["span"] is not None:
                self._own[j["span"]].append(j)

    def subtree(self, sid: int) -> list[dict]:
        out = list(self._own.get(sid, ()))
        for kid in self._kids.get(sid, ()):
            out.extend(self.subtree(kid))
        return out

    def own(self, sid: int) -> list[dict]:
        return list(self._own.get(sid, ()))


def totals(jobs: list[dict]) -> Counter:
    out: Counter = Counter()
    for j in jobs:
        out.update(j["totals"])
    out["jobs"] = len(jobs)
    return out


def uncovered_seconds(start: float, end: float, jobs: list[dict]) -> float:
    """Part of [start, end] covered by no job interval (driver self time)."""
    spans = sorted(
        (max(start, j["start"]), min(end, j["end"] or end)) for j in jobs
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)
