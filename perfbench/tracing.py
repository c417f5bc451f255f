"""Spans around the benchmark's own calls into each layer, and the Spark
stage metrics attributed to them.

A span records name, start, end, parent and operation id, and while it is
open the Spark job group is the span id, so every job Spark runs inside it
carries that id.  Spans stay in memory; after the run ``stage_metrics``
pulls per-job and per-stage metrics from the Spark UI REST API and
``attribute`` sums them onto the span that opened each job.
"""

from __future__ import annotations

import contextlib
import datetime
import itertools
import json
import time
import urllib.request

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "inputBytes", "inputRecords",
    "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


class Tracer:
    """In-memory span recorder.  ``enabled`` may be flipped between
    operations; a disabled tracer records nothing and touches no Spark
    state, so untraced operations pay only the ``with`` statement."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._op = None

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op = op
        rec = {
            "id": f"span-{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "start": time.time(),
            "end": None,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def _epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not ts:
        return None
    d = datetime.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp()


def stage_metrics(spark, settle_s: float = 15.0) -> tuple[list[dict], dict]:
    """(jobs, stage id -> summed metrics) from the UI REST API, once the
    status store has caught up with every job the tracker knows about."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    while True:
        jobs = _get(f"{base}/jobs")
        done = all(j.get("completionTime") for j in jobs)
        if (done and not sc.statusTracker().getActiveJobsIds()) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages: dict[int, dict] = {}
    for s in _get(f"{base}/stages"):
        acc = stages.setdefault(s["stageId"], {f: 0 for f in STAGE_FIELDS} | {"numTasks": 0})
        for f in STAGE_FIELDS:
            acc[f] += s.get(f, 0) or 0
        acc["numTasks"] += s.get("numCompleteTasks", 0) or 0
    for j in jobs:
        j["_start"] = _epoch(j.get("submissionTime"))
        j["_end"] = _epoch(j.get("completionTime"))
    return jobs, stages


def storage_mb(spark) -> float:
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    rdds = _get(f"{base}/storage/rdd")
    return sum((r.get("memoryUsed", 0) or 0) + (r.get("diskUsed", 0) or 0) for r in rdds) / 1e6


def attribute(spans: list[dict], jobs: list[dict], stages: dict) -> dict[str, dict]:
    """Per span id: jobs, tasks, job intervals and stage metrics of the
    jobs opened inside it (self), plus the same summed over its subtree
    (``tree``).  A stage counts once, for the first job that lists it —
    later jobs that list it skipped it."""
    by_id = {s["id"]: s for s in spans}
    self_m = {sid: _empty() for sid in by_id}
    claimed: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sid = j.get("jobGroup")
        if sid not in self_m:
            continue
        m = self_m[sid]
        m["jobs"] += 1
        if j["_start"] is not None and j["_end"] is not None:
            m["intervals"].append((j["_start"], j["_end"]))
        for st in j.get("stageIds", []):
            if st in claimed or st not in stages:
                continue
            claimed.add(st)
            for f, v in stages[st].items():
                m[f] += v
    tree = {sid: _copy(m) for sid, m in self_m.items()}
    # children close before parents, so span order is a post-order
    for s in spans:
        p = s["parent"]
        if p in tree:
            _add(tree[p], tree[s["id"]])
    return {sid: {"self": self_m[sid], "tree": tree[sid]} for sid in by_id}


def _empty() -> dict:
    return {f: 0 for f in STAGE_FIELDS} | {"numTasks": 0, "jobs": 0, "intervals": []}


def _copy(m: dict) -> dict:
    out = dict(m)
    out["intervals"] = list(m["intervals"])
    return out


def _add(into: dict, m: dict) -> None:
    for f, v in m.items():
        if f == "intervals":
            into[f].extend(v)
        else:
            into[f] += v


def busy_time(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of job intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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
