"""Spans around the program's public calls, and Spark's own counters.

Spans are recorded from the benchmark's side of each call: the
benchmark replaces a module attribute (a public function or method)
with a wrapper for the traced run only. Spans stay in memory and are
written out once, when the run ends. A layer's self time is its span
time minus the part covered by its child spans.

Spark counters come from the status store of the live context (it is
populated with the UI disabled): every traced call runs under its own
job group, and once the listener bus has drained, the group's jobs,
stages and tasks are summed.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id). The
    parent stack is per thread, so concurrent requests nest correctly.
    A child span shares its parent's op id; a root span takes ``op``
    when the caller sets it, else its own index."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counts: dict[str, dict] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: int | None = None

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else -1
            if parent >= 0:
                op = self.spans[parent][4]
            else:
                op = idx if self.op is None else self.op
            self.spans.append((name, time.perf_counter(), 0.0, parent, op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            n, t0, _, p, op = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, op)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def count(self, owner, attr: str, name: str, hit=None) -> None:
        """Replace ``owner.attr`` by a wrapper that sums calls and time
        (and calls where ``hit(args, result)`` holds) instead of keeping
        a span per call: for functions called many times per operation."""
        fn = getattr(owner, attr)
        tracer = self
        acc = self.counts.setdefault(name, {"calls": 0, "seconds": 0.0, "hits": 0})

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t
            with tracer._lock:
                acc["calls"] += 1
                acc["seconds"] += dt
                acc["hits"] += bool(hit and hit(args, out))
            return out

        setattr(owner, attr, counted)

    def totals(self) -> dict[str, dict]:
        """name -> {calls, total_s, self_s}."""
        child_time = defaultdict(float)
        for _, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child_time[parent] += t1 - t0
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            rec = out[name]
            rec["calls"] += 1
            rec["total_s"] += t1 - t0
            rec["self_s"] += (t1 - t0) - child_time[i]
        return dict(out)

    def per_call_ms(self, name: str) -> float:
        rec = self.totals().get(name)
        return 1000.0 * rec["total_s"] / rec["calls"] if rec else 0.0

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(
                    json.dumps({"name": name, "start": t0, "end": t1, "parent": parent, "op": op})
                    + "\n"
                )


def spellcheck_corrected(args, out) -> bool:
    """``DriverVocabulary.spellcheck_term(vocab, term)`` changed the term."""
    return out is not None and out != args[1]


def spellcheck_metrics(acc: dict, n_ops: int) -> dict:
    """spellcheck.* layer metrics from a ``Tracer.count`` accumulator."""
    return {
        "spellcheck.calls": (acc["calls"] / max(1, n_ops), "count"),
        "spellcheck.ms": (1000 * acc["seconds"] / max(1, n_ops), "ms"),
        "spellcheck.corrected_share": (acc["hits"] / max(1, acc["calls"]), "ratio"),
    }


_FINAL_PLAN = "== Final Plan =="
_INITIAL_PLAN = "== Initial Plan =="
_EXCHANGE = re.compile(r"\b(?:Shuffle|Broadcast)?Exchange\b")


def exchanges(df) -> int:
    """Exchange nodes in the executed (final adaptive) physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if _FINAL_PLAN in plan:
        plan = plan.split(_FINAL_PLAN, 1)[1].split(_INITIAL_PLAN, 1)[0]
    return len(_EXCHANGE.findall(plan))


class SparkCounters:
    """Job-group scoped reads of jobs / tasks / shuffle / spill / skew."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._seq = 0

    @contextmanager
    def group(self, name: str, out: dict):
        """Run the body under a fresh job group; fill ``out`` with its
        counters afterwards. Restores no outer group (callers nest by
        passing distinct names in sequence, never concurrently)."""
        self._seq += 1
        gid = f"{name}#{self._seq}"
        self.sc.setJobGroup(gid, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench", "perfbench")
            out.update(self.read(gid))

    def read(self, gid: str) -> dict:
        # the status store is filled from the listener bus, asynchronously;
        # drain it so the group's last task and stage updates are in
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        stage_ids = set()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(gid)
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
        n_jobs = len(job_ids)
        c = {
            "jobs": n_jobs,
            "stages": 0,
            "tasks": 0,
            "failed_tasks": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "executor_run_ms": 0,
            "task_time_max_over_median": 0.0,
        }
        for sid in stage_ids:
            s = self.store.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
            c["failed_tasks"] += int(s.numFailedTasks())
            c["shuffle_read_bytes"] += int(s.shuffleReadBytes())
            c["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            c["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            c["executor_run_ms"] += int(s.executorRunTime())
            summary = self.store.taskSummary(sid, s.attemptId(), self._quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, mx = float(rt.apply(0)), float(rt.apply(1))
                c["task_time_max_over_median"] = max(
                    c["task_time_max_over_median"], mx / med if med > 0 else 1.0
                )
        return c
