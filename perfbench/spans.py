"""Tracing for the traced run: in-memory spans around public calls, the
Spark event log, and the built-in UDF profiler.

Every span is recorded from outside the program, by wrapping a public
function of a layer module for the duration of the traced call. Spans
stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pstats
import statistics
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a span-recording wrapper until
        ``unwrap_all``."""
        fn = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, fn = self._patches.pop()
            setattr(module, attr, fn)

    @contextlib.contextmanager
    def layers(self):
        """Span every public layer call a job makes inside the ``with``
        body. Names bound at import time are wrapped where the caller
        looks them up (``pipeline.append_lineage``); names imported
        inside functions are wrapped on their own module."""
        from win64_local_ocr_tool_spark import lineage, pipeline, staged

        for module, attr, name in (
            (staged, "merge_by_key", "staged.merge_by_key"),
            (staged, "read_stage", "staged.read_stage"),
            (pipeline, "append_lineage", "lineage.append_lineage"),
            (pipeline, "read_lineage", "lineage.read_lineage"),
            (lineage, "read_lineage", "lineage.read_lineage"),
            (lineage, "done_keys", "lineage.done_keys"),
            (lineage, "content_fingerprint", "lineage.content_fingerprint"),
            (lineage, "straggler_report", "lineage.straggler_report"),
            (pipeline, "extract_all", "extract.extract_all"),
        ):
            self.wrap(module, attr, name)
        try:
            yield self
        finally:
            self.unwrap_all()

    def total_s(self, name: str, under: str | None = None) -> float:
        """Seconds in spans called ``name``; with ``under``, only those
        below a span called ``under``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (under is None or self._below(s, under))
        )

    def _below(self, span: dict, name: str) -> bool:
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            if span["name"] == name:
                return True
        return False

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def udf_profile_cumtime(profile_dir: str) -> dict[str, float]:
    """Function name -> cumulative seconds, summed over every UDF
    profile ``spark.profile.dump`` wrote into ``profile_dir``."""
    out: dict[str, float] = {}
    for path in glob.glob(os.path.join(profile_dir, "*.pstats")):
        for (_file, _line, name), row in pstats.Stats(path).stats.items():
            out[name] = out.get(name, 0.0) + row[3]
    return out


def event_log_metrics(log_dir: str, job_group: str) -> dict[str, float]:
    """Task metrics of the jobs run under ``job_group``, from the event
    log Spark wrote into ``log_dir`` (read after the session stopped)."""
    stages: set[int] = set()
    tasks: list[dict] = []
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if ev.get("Properties", {}).get("spark.jobGroup.id") == job_group:
                        stages.update(ev["Stage IDs"])
                elif '"SparkListenerTaskEnd"' in line:
                    tasks.append(json.loads(line))
    tasks = [t for t in tasks if t["Stage ID"] in stages]
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["Stage ID"], []).append(t)

    def m(t: dict, *keys: str) -> float:
        v = t.get("Task Metrics") or {}
        for k in keys:
            v = v.get(k, 0) if isinstance(v, dict) else 0
        return v or 0

    def dur(t: dict) -> int:
        return t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]

    skew = 0
    if by_stage:
        # the longest stage by wall time: first launch to last finish
        longest = max(
            by_stage.values(),
            key=lambda ts: max(t["Task Info"]["Finish Time"] for t in ts)
            - min(t["Task Info"]["Launch Time"] for t in ts),
        )
        durs = [dur(t) for t in longest]
        skew = max(durs) * 1000 // max(int(statistics.median_low(durs)), 1)
    return {
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(
            1 for t in tasks if t["Task End Reason"]["Reason"] != "Success"
        ),
        "spark.input_bytes": sum(m(t, "Input Metrics", "Bytes Read") for t in tasks),
        "spark.shuffle_write_bytes": sum(
            m(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks
        ),
        "spark.shuffle_read_bytes": sum(
            m(t, "Shuffle Read Metrics", "Remote Bytes Read")
            + m(t, "Shuffle Read Metrics", "Local Bytes Read")
            for t in tasks
        ),
        "spark.spill_bytes": sum(m(t, "Disk Bytes Spilled") for t in tasks),
        "spark.gc_s": sum(m(t, "JVM GC Time") for t in tasks) / 1000,
        "spark.task_skew_x1000": skew,
    }
