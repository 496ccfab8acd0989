"""Spans around calls into the package, and Spark's own counters.

Tracing wraps module attributes of the package from outside: the
package's own code looks these names up as module globals at call time
(``run_job`` calls ``build_source``/``apply_transforms``/``write_sink``;
``write_sink`` imports ``es_http.bulk_index`` when it runs), so a
wrapper installed on every module that holds the function sees every
call. Spans are kept in memory with their parent ids and written out
when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: id, parent id, name, tag, pass label, start, end."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.label = ""
        self.active = False
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, tag: str | None = None):
        return _Span(self, name, tag)

    def wrap(self, name: str, fn, tag=None):
        """``fn`` with a span around each call; ``tag(args)`` names the
        call's subject (the job a pipeline stage runs) in the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # A caller that kept a reference to the wrapper past
            # uninstall() records nothing.
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, tag(args) if tag else None):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: dict[str, tuple]) -> None:
        """Replace each function in ``targets`` (span name -> (function,
        tag)) by a traced wrapper on every loaded package module that
        holds it, including modules that imported it by name."""
        self.active = True
        mods = [m for n, m in list(sys.modules.items()) if n.startswith("hive_to_es_spark") and m]
        for name, (fn, tag) in targets.items():
            wrapper = self.wrap(name, fn, tag)
            for mod in mods:
                for attr, value in list(vars(mod).items()):
                    if value is fn:
                        setattr(mod, attr, wrapper)
                        self._patched.append((mod, attr, fn))

    def uninstall(self) -> None:
        self.active = False
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

class _Span:
    def __init__(self, tracer: Tracer, name: str, tag: str | None):
        self.tracer, self.name, self.tag = tracer, name, tag

    def __enter__(self):
        t = self.tracer
        self.rec = {
            "id": len(t.spans),
            "parent": t.stack[-1] if t.stack else None,
            "name": self.name,
            "tag": self.tag,
            "pass": t.label,
            "start": time.perf_counter(),
            "end": None,
        }
        t.spans.append(self.rec)
        t.stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer.stack.pop()
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover
    (children of one span never overlap: the calls come from one thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def sum_by(spans: list[dict], label: str, key) -> dict[str, float]:
    """Self seconds of the spans of one pass, summed by ``key(span)``."""
    own = self_times(spans)
    out = defaultdict(float)
    for s in spans:
        if s["pass"] == label:
            k = key(s)
            if k:
                out[k] += own[s["id"]]
    return dict(out)


def count_pass_s(run_jobs_wall: float, spans: list[dict], label: str) -> float:
    """``run_jobs`` wall time minus the wall time of the ``run_job``
    calls made inside it: what run_jobs spends outside the jobs
    themselves (today its per-job ``df.count()`` re-execution)."""
    inner = sum(
        s["end"] - s["start"] for s in spans if s["pass"] == label and s["name"] == "pipeline.run_job"
    )
    return run_jobs_wall - inner


def tracker_counts(sc, groups: list[str]) -> dict[str, int]:
    """Jobs, stages run, tasks and failed tasks of the given job groups,
    from Spark's status tracker. Call soon after the jobs end: the
    tracker keeps only the most recent jobs."""
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


EVENTLOG_FIELDS = (
    "input_bytes",
    "input_records",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
)


def eventlog_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum TaskEnd metrics per job group from an uncompressed event log
    (``spark.eventLog.compress=false``; rolling ``eventlog_v2_*/events_*``
    files or a single file)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENTLOG_FIELDS, 0.0))
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out[group]
                    inp = m.get("Input Metrics", {})
                    acc["input_bytes"] += inp.get("Bytes Read", 0)
                    acc["input_records"] += inp.get("Records Read", 0)
                    acc["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics", {})
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return dict(out)
