"""Spans around the benchmark's calls into the package, and the Spark
counters behind them.

A :class:`Tracer` records one span per wrapped call: name, layer,
start, end, parent span and run id, kept in memory and written out at
the end. While a span is open its id is the Spark job group of the
calling thread, so the UI and the REST API attribute the jobs to it.
Jobs submitted from other threads (the ingest fold-back merges run in
a thread pool) carry no group; they go to the innermost span whose
interval holds their submission time.

Counters come from the driver's REST API on localhost, read once after
the timed work (``collect``), never inside a timed region:
``jobs``, ``stages`` and ``tasks`` that ran, ``shuffle_bytes`` written
and ``executor_s`` (executor run time summed over tasks).

With tracing off, :meth:`Tracer.span` is a no-op context manager and
nothing else is touched.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import re
import time
import urllib.request
from urllib.parse import urlparse

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "executor_s")


class Span:
    __slots__ = ("sid", "layer", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, layer, name, parent, start):
        self.sid = sid
        self.layer = layer
        self.name = name
        self.parent = parent
        self.start = start
        self.end = None
        self.attrs = {}

    @property
    def key(self) -> str:
        return f"{self.layer}.{self.name}"

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """Record one call into ``layer``; yields the span (or None when
        tracing is off) so the caller can attach attributes."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"{self.run_id}:{len(self.spans)}",
            layer,
            name,
            parent.sid if parent else None,
            time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.sid, sp.key, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.key, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------------
    # counters
    # ------------------------------------------------------------------

    def collect(self) -> None:
        """Attach Spark counters to every span (inclusive of children)."""
        if not self.enabled or not self.spans:
            return
        jobs = settled_jobs(self.sc)
        stages: dict[int, list] = {}
        for st in ui_get(self.sc, "stages"):
            stages.setdefault(st["stageId"], []).append(st)
        by_sid = {sp.sid: sp for sp in self.spans}
        own: dict[str, dict] = {sp.sid: dict.fromkeys(COUNTERS, 0) for sp in self.spans}
        for j in jobs:
            sp = by_sid.get(j.get("jobGroup"))
            if sp is None:
                sp = self._innermost_at(_epoch(j["submissionTime"]))
            if sp is None:
                continue
            c = own[sp.sid]
            c["jobs"] += 1
            for stage_id in j["stageIds"]:
                for st in stages.get(stage_id, ()):
                    if st["status"] not in ("COMPLETE", "FAILED"):
                        continue  # skipped: its output was reused
                    c["stages"] += 1
                    c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    c["shuffle_bytes"] += st["shuffleWriteBytes"]
                    c["executor_s"] += st["executorRunTime"] / 1000.0
        # inclusive counters: a span's jobs include its children's
        for sp in reversed(self.spans):
            sp.attrs.update({k: v for k, v in own[sp.sid].items()})
            if sp.parent is not None:
                for k in COUNTERS:
                    own[sp.parent][k] += own[sp.sid][k]

    def _innermost_at(self, t: float):
        best = None
        for sp in self.spans:
            if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        return best

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "span": sp.sid,
                            "parent": sp.parent,
                            "layer": sp.layer,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            **sp.attrs,
                        },
                        sort_keys=True,
                    )
                    + "\n"
                )


def ui_get(sc, path: str):
    """GET one resource of this application from the driver's REST API
    (always on localhost)."""
    port = urlparse(sc.uiWebUrl).port
    url = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def settled_jobs(sc) -> list[dict]:
    """All jobs, once the UI's listener has caught up (no job still
    running and the list unchanged between two reads)."""
    prev = None
    for _ in range(120):
        jobs = ui_get(sc, "jobs")
        sig = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
        if sig == prev and sig[1] == 0:
            return jobs
        prev = sig
        time.sleep(0.5)
    raise RuntimeError("Spark UI jobs did not settle within 60 s")


def plan_fingerprints(sc, windows) -> list[dict]:
    """For each ``(start, end)`` window (epoch seconds) of a timed
    operation: the number of SQL executions it ran and a fingerprint of
    their physical plans with run-varying ids and paths removed. Equal
    fingerprints with different times mean host noise; different
    fingerprints mean the plans changed."""
    settled_jobs(sc)
    execs = ui_get(sc, "sql?details=false&planDescription=true&offset=0&length=1000000")
    out = []
    for start, end in windows:
        plans = sorted(
            normalize_plan(e.get("planDescription", ""))
            for e in execs
            if start <= _epoch(e["submissionTime"]) <= end
        )
        out.append(
            {
                "executions": len(plans),
                "fingerprint": hashlib.sha256("\n".join(plans).encode()).hexdigest()[:12],
            }
        )
    return out


_PLAN_NOISE = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(plan_id|rddId|id)=\d+"), r"\1=?"),
    (re.compile(r"\[\d+(,\s*\d+)*\]"), "[]"),
    (re.compile(r"(file:|/)[^\s,\]]*/\.perfbench/[^\s,\]]*"), "<path>"),
    (re.compile(r"\(\d+\)"), "()"),
)


def normalize_plan(text: str) -> str:
    for pat, rep in _PLAN_NOISE:
        text = pat.sub(rep, text)
    return text


def _epoch(ts: str) -> float:
    # Spark UI time format: 2026-10-16T23:50:01.123GMT
    return (
        dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )
