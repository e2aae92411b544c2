"""Outside-in tracing for the traced benchmark run.

Spans are recorded by the benchmark around each call it makes into an
engine layer's public function; nothing inside the engine is changed. A
span holds its name, wall-clock start and end, and its parent. While a span
is open the calling thread carries a Spark job group named after it, so the
status tracker can say how many jobs, stages and tasks the call ran.

Spark's event log (enabled only in the traced run) supplies shuffle bytes
per job group and per time window after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` can be flipped between units so
    one process measures the same unit traced and untraced."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @staticmethod
    def group(sid: int) -> str:
        return f"perfbench-{sid}"

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer. Yields the Span (or None when
        tracing is off) so the caller can attach counts to it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent and parent.sid, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self.group(sp.sid), name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent.sid), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(sp)

    def _count_jobs(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(self.group(sp.sid)):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    sp.stages += 1
                    sp.tasks += sinfo.numTasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        child spans cover, summed by layer (the name's first component)."""
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child[s.sid]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks,
                }) + "\n")


def read_event_log(log_dir: str) -> tuple[dict[str, dict], list[dict]]:
    """Parse the event log(s) under ``log_dir`` into (per job group
    {shuffle_write, shuffle_read} bytes, per-job rows [{submit_s, group,
    shuffle_write, shuffle_read}]). Call after the session stopped, when the
    log is complete."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    tasks: list[tuple[int, int, int]] = []
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in filter(os.path.isfile, paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit_s": ev.get("Submission Time", 0) / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "shuffle_write": 0,
                        "shuffle_read": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    w = m.get("Shuffle Write Metrics") or {}
                    tasks.append((
                        ev["Stage ID"],
                        int(w.get("Shuffle Bytes Written", 0)),
                        int(r.get("Remote Bytes Read", 0)) + int(r.get("Local Bytes Read", 0)),
                    ))
    for sid, wrote, read in tasks:
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            job["shuffle_write"] += wrote
            job["shuffle_read"] += read
    by_group: dict[str, dict] = {}
    for job in jobs.values():
        g = by_group.setdefault(job["group"], {"shuffle_write": 0, "shuffle_read": 0})
        g["shuffle_write"] += job["shuffle_write"]
        g["shuffle_read"] += job["shuffle_read"]
    return by_group, list(jobs.values())


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (all collectors)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0
