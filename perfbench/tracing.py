"""Outside-in tracing for the benchmark's traced run.

Spans are recorded around calls into each layer's public functions by
patching the names where the calling module looks them up (module
attributes, and ``KeyedParquetUpsertSink.upsert`` on its class). The
program itself is not changed. Spans live in memory and are written
out when the run ends.

Counters come from Spark's own bookkeeping, read after each operation:

* every span opened on the client thread runs under its own job group,
  so ``statusTracker().getJobIdsForGroup`` gives the jobs it started;
  micro-batch jobs run on the stream thread under the query's
  ``runId`` group;
* per-stage tasks, bytes, spill and executor run time come from
  ``statusStore().lastStageAttempt``;
* Catalyst phase times come from ``queryExecution().tracker()``.
"""

from __future__ import annotations

import functools
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # --- spans ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a callback thread (foreachBatch) nests under the client
        # thread's open span, which is waiting on the stream
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sp = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None, "group": None,
        }
        self.spans.append(sp)
        # job groups are thread-local; on a stream thread they would
        # overwrite the runId group the micro-batch jobs are counted by
        on_main = stack is self._main_stack
        if on_main:
            sp["group"] = f"perfbench-{sp['id']}"
            self.sc.setJobGroup(sp["group"], name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if on_main:
                if parent is not None and parent.get("group"):
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: object, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- counters --------------------------------------------------------

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store holds final numbers for finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_in_group(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids: list[int]) -> dict[str, float]:
        """Sum of per-stage counters over ``job_ids`` (each stage once)."""
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("jobs", "tasks", "shuffle_write_bytes", "input_bytes",
             "executor_run_ms", "spill_bytes"), 0.0,
        )
        out["jobs"] = float(len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never ran (skipped stage)
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
                out["executor_run_ms"] += sd.executorRunTime()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    # --- span arithmetic ----------------------------------------------------

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["end"] is not None]

    def self_time(self, sp: dict, spans: list[dict]) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in spans if c["parent"] == sp["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def layer_spans(self, spans: list[dict], name: str) -> list[dict]:
        """Outermost spans called ``name`` (a same-named ancestor already
        covers a nested one)."""
        by_id = {s["id"]: s for s in spans}
        out = []
        for s in spans:
            if s["name"] != name:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["name"] != name:
                p = by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def layer_time(self, spans: list[dict], name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.layer_spans(spans, name))

    def layer_self_time(self, spans: list[dict], name: str) -> float:
        return sum(self.self_time(s, spans) for s in spans if s["name"] == name)

    def layer_jobs(self, spans: list[dict], name: str) -> list[int]:
        """Jobs started on the client thread inside ``name`` spans,
        children included."""
        by_parent: dict[int | None, list[dict]] = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)
        jobs: list[int] = []

        def walk(s: dict) -> None:
            if s["group"]:
                jobs.extend(self.jobs_in_group(s["group"]))
            for c in by_parent.get(s["id"], ()):
                walk(c)

        for s in self.layer_spans(spans, name):
            walk(s)
        return sorted(set(jobs))

    def dump(self) -> list[dict]:
        return [dict(s) for s in self.spans]


def catalyst_phase_ms(df) -> dict[str, float]:
    """Force analysis, optimization and planning of ``df`` on its own
    QueryExecution and return the tracker's time per phase."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
