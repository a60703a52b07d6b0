"""Per-layer tracing for the benchmark: named spans, Spark job groups,
seam counters, and task metrics parsed from the Spark event log.

A span is entered around a call into one of the engine's public
functions.  On entry the span's name becomes the Spark job group of the
calling thread, so every job launched while the span is innermost is
tagged with it; on exit the enclosing span's group is restored.  Span
wall time is *exclusive*: while a nested span runs, its parent's clock
is paused, so the spans of one operation add up to the operation.

Known limitation: Spark plans are lazy.  A job belongs to the span whose
*action* runs it, not to the span that built the plan.  For example the
executor-side ranking plan built by ``rank_signatures`` runs inside the
persist-and-count of ``budgeted_accumulate``, so its jobs land under
``retrieve.budget``; the generator plan built by ``answer_questions``
runs in the engine's final collect, under ``pipeline.run``.  Ranker and
generator *calls* are still counted exactly, by the seam wrappers below,
through accumulators that executors report back.

This module is also imported by Python workers (the wrapped ranker and
generator are pickled into executors), so its top level imports nothing
heavy.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

ROOT_GROUP = "bench.other"
SPAN_STATS = (
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("task_run_s", "s"),
    ("sched_delay_s", "s"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("failed_tasks", "count"),
)
# engine layers, in pipeline order; pipeline.run holds the jobs that the
# pipeline and api code launch themselves (their own collects)
SPANS = ("graph.ingest", "search.match", "patterns.enumerate",
         "patterns.execute", "llm.rank", "retrieve.budget",
         "llm.generate", "metrics.score", "llm.sft_write", "pipeline.run")


class CheckingRanker:
    """Ranker seam wrapper: counts calls and candidates, and counts every
    call whose output is not a subset of its candidates (the verbatim
    invariant).  Counters are accumulators, so calls made inside
    executors are counted too."""

    def __init__(self, inner, calls, candidates, violations):
        self.inner = inner
        self.calls = calls
        self.candidates = candidates
        self.violations = violations

    def rank(self, question, candidates, k=5):
        out = self.inner.rank(question, candidates, k)
        self.calls.add(1)
        self.candidates.add(len(candidates))
        allowed = set(candidates)
        if len(out) > k or any(c not in allowed for c in out):
            self.violations.add(1)
        return out


class CountingGenerator:
    """Generator seam wrapper counting calls through an accumulator."""

    def __init__(self, inner, calls):
        self.inner = inner
        self.calls = calls

    def generate(self, question, nodes_data, add_more_answers=False):
        self.calls.add(1)
        return self.inner.generate(question, nodes_data, add_more_answers)


class Tracer:
    """Span bookkeeping.  Disabled tracers make ``span`` a no-op, so the
    untraced path pays nothing but a context-manager call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.stack: list[list] = []          # [name, open_since]
        self.intervals: dict[str, list] = defaultdict(list)
        self.bookkeeping_s = 0.0             # time spent tracing itself
        self._patched: list[tuple] = []
        if enabled:
            self.set_group(ROOT_GROUP)

    def set_group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        now = time.time()
        if self.stack:
            parent = self.stack[-1]
            self.intervals[parent[0]].append((parent[1], now))
        self.set_group(name)
        self.stack.append([name, time.time()])
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            now = time.time()
            _, since = self.stack.pop()
            self.intervals[name].append((since, now))
            self.set_group(self.stack[-1][0] if self.stack else ROOT_GROUP)
            if self.stack:
                self.stack[-1][1] = time.time()
            self.bookkeeping_s += time.perf_counter() - t0

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` by a version running inside span
        ``name``; ``on_result(args, kwargs, result)`` observes calls."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out)
            return out

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _overlap(xs, ys) -> float:
    """Total length of the intersection of two interval unions."""
    total, i, j = 0.0, 0, 0
    while i < len(xs) and j < len(ys):
        lo = max(xs[i][0], ys[j][0])
        hi = min(xs[i][1], ys[j][1])
        if hi > lo:
            total += hi - lo
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    return files[0]


def span_stats(event_log: str, intervals: dict[str, list],
               since: float) -> dict[str, dict[str, float]]:
    """Aggregate task metrics per job group for jobs submitted at or
    after ``since`` (epoch seconds).  Returns {group: {stat: value}};
    the group ``None`` collects untagged jobs."""
    job_group, job_span, stage_group = {}, {}, {}
    stats: dict = defaultdict(lambda: defaultdict(float))
    since_ms = since * 1000.0
    with open(event_log) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if ev["Submission Time"] < since_ms:
                continue
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = grp
            job_span[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
            stats[grp]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if (info.get("Submission Time") or 0) < since_ms:
                continue
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = grp
            stats[grp]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            if key not in stage_group:
                continue
            s = stats[stage_group[key]]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            s["tasks"] += 1
            s["failed_tasks"] += 1 if info.get("Failed") else 0
            run = m.get("Executor Run Time", 0)
            overhead = (m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0))
            duration = info["Finish Time"] - info["Launch Time"]
            s["task_run_s"] += run / 1000.0
            s["sched_delay_s"] += max(0, duration - run - overhead) / 1000.0
            s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                         ).get("Shuffle Bytes Written", 0)
            s["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    # wall and driver time: exclusive span intervals, minus the time in
    # which at least one of the span's own jobs was running
    jobs_by_group = defaultdict(list)
    for jid, (a, b) in job_span.items():
        jobs_by_group[job_group[jid]].append((a, b if b is not None else a))
    for name, iv in intervals.items():
        iv = [(a, b) for a, b in iv if b >= since]
        wall = sum(b - a for a, b in iv)
        busy = _overlap(_union(iv), _union(jobs_by_group.get(name, [])))
        stats[name]["wall_s"] += wall
        stats[name]["driver_s"] += max(0.0, wall - busy)
    return {g: dict(v) for g, v in stats.items()}
