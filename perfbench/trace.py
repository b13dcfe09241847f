"""Spans around the calls the benchmark makes into each layer, and the
Spark work each span caused, read back from the event log.

A span records name, start, end, parent span and run id.  Spans stay in
memory and are written out once, when the run ends.  While a span is
open the benchmark's thread carries it as the Spark job group, so its
jobs are labelled in the UI and the event log.  Jobs the engine submits
from its own worker threads do not inherit the group, so the counters
below attribute jobs to a span by submission time instead: the
benchmark runs one call at a time, so a job submitted inside a span's
interval belongs to it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder.  Disabled, ``span`` records nothing and touches no
    Spark state, so the untraced run pays nothing for it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._sc = None

    def bind(self, spark_context) -> None:
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._set_group(self.spans[self._open[-1]] if self._open else None)

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{rec['name']}#{rec['id']}", rec["name"])

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover.
        Children of one span run one after another, so their durations
        add without overlap."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def spark_work(event_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Jobs, executed stages, tasks and task metrics of the jobs
    submitted inside each ``(start, end)`` window (seconds since the
    epoch).  Reads the uncompressed event logs in ``event_dir``; call it
    after the Spark context has stopped, when the logs are complete."""
    job_submit: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[int] = set()
    per_stage = defaultdict(lambda: defaultdict(float))
    for fn in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, fn)) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    job_submit[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                    info = json.loads(line)["Stage Info"]
                    if "Failure Reason" not in info:
                        stages_done.add(info["Stage ID"])
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    tm = ev.get("Task Metrics") or {}
                    st = per_stage[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["write_b"] += sw.get("Shuffle Bytes Written", 0)
    out = []
    for start, end in windows:
        jobs = {j for j, t in job_submit.items() if start * 1e3 <= t <= end * 1e3}
        stages = [s for s, j in stage_job.items() if j in jobs and s in stages_done]
        tot = defaultdict(float)
        for s in stages:
            for k, v in per_stage[s].items():
                tot[k] += v
        out.append(
            {
                "jobs": len(jobs),
                "stages": len(stages),
                "tasks": int(tot["tasks"]),
                "task_cpu_s": tot["cpu_ns"] / 1e9,
                "gc_s": tot["gc_ms"] / 1e3,
                "shuffle_write_mb": tot["write_b"] / 2**20,
                "shuffle_read_mb": tot["read_b"] / 2**20,
                "spill_mb": tot["spill_b"] / 2**20,
            }
        )
    return out
