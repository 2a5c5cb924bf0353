"""Per-layer measurement from outside the program.

Three sources, none of them a timer inside the package:

* ``Spans`` wraps public functions of the ``jobs`` and ``operators``
  layers (module attributes the daily pipeline calls through) and
  records one span per call;
* ``fold_event_log`` reads Spark's own event log after the session
  stops and folds jobs, stages and task metrics per op, by job group;
* ``fold_progress`` folds each op's ``StreamingQueryProgress``
  ``durationMs`` reports.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Spans:
    """In-memory span recorder: ``(name, start, end, parent index)``."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append([name, time.perf_counter(), None, parent])
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx][2] = time.perf_counter()

        setattr(module, attr, traced)

    def fold(self, first: int, last: int) -> dict[str, float]:
        """Seconds per span name over spans ``first..last-1`` (one op),
        plus ``<name>.self_s`` for every span with children: its
        duration minus the union of its direct children."""
        out: dict[str, float] = defaultdict(float)
        children: dict[int, list] = defaultdict(list)
        for i in range(first, last):
            name, start, end, parent = self.spans[i]
            out[f"{name}_s"] += end - start
            if parent is not None:
                children[parent].append((start, end))
        for parent, kids in children.items():
            name, start, end, _ = self.spans[parent]
            out[f"{name}.self_s"] += (end - start) - _union(kids)
        return dict(out)


def _union(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        total += max(0.0, end - max(start, reach))
        reach = max(reach, end)
    return total


def _events(log_dir: str):
    """Events of the one application logged under ``log_dir``: Spark 4
    writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {apps}")
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    for part in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(part) as f:
            for line in f:
                yield json.loads(line)


def fold_event_log(log_dir: str, ops: list[dict]) -> list[dict]:
    """Per-op Spark metrics.  Each op is ``{"start", "end", "groups"}``
    (epoch seconds, job-group ids); a job belongs to the op whose groups
    hold its ``spark.jobGroup.id``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000,
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "stages": set(ev["Stage IDs"]),
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {
                "wall": (info["Completion Time"] - info["Submission Time"]) / 1000,
            }
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append((ev["Task Info"], ev.get("Task Metrics") or {}))

    folded = []
    for op in ops:
        mine = [j for j in jobs.values() if j["group"] in op["groups"]]
        spans = [(max(j["start"], op["start"]), min(j.get("end", op["end"]), op["end"])) for j in mine]
        job_wall = _union([s for s in spans if s[1] > s[0]])
        stage_ids = set().union(*(j["stages"] for j in mine)) if mine else set()
        ran = [s for s in stage_ids if s in stages]
        m = defaultdict(float)
        for s in ran:
            for _info, tm in tasks[s]:
                shuffle_read = tm.get("Shuffle Read Metrics", {})
                m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1000
                m["shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
                    "Local Bytes Read", 0
                )
                m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                m["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                m["tasks"] += 1
        longest = max(ran, key=lambda s: stages[s]["wall"], default=None)
        skew = 1.0
        if longest is not None and tasks[longest]:
            runs = [i["Finish Time"] - i["Launch Time"] for i, _ in tasks[longest]]
            skew = max(runs) / max(statistics.median(runs), 1)
        wall = op["end"] - op["start"]
        folded.append({
            "spark.jobs": len(mine),
            "spark.stages": len(ran),
            "spark.stages_skipped": len(stage_ids) - len(ran),
            "spark.job_wall_s": job_wall,
            "spark.driver_gap_s": wall - job_wall,
            "spark.task_skew": skew,
            **{f"spark.{k}": v for k, v in m.items()},
        })
    return folded


def fold_progress(progress: list) -> dict[str, float]:
    """Seconds per streaming phase over one op's progress reports."""
    d: dict[str, float] = defaultdict(float)
    for p in progress:
        dur = p["durationMs"] if isinstance(p, dict) else p.durationMs
        for k, v in dur.items():
            d[k] += v / 1000
    return {
        "streaming.batch_s": d["triggerExecution"],
        "streaming.add_batch_s": d["addBatch"],
        "streaming.query_planning_s": d["queryPlanning"],
        "streaming.commit_s": d["walCommit"] + d["commitOffsets"],
        "streaming.offsets_s": d["latestOffset"] + d["getBatch"],
    }
