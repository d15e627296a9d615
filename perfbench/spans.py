"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own files: class methods of the
engine and the lake table are wrapped for the length of a run, and the
benchmark opens spans around the calls it makes itself (change feed,
lookups, compaction). Each span carries its name, start, end, parent span
and the id of the benchmark op it belongs to; the list stays in memory and
is written as JSON when the run ends.

Spark work is attributed with job groups: a span opened with ``group=``
sets one job group for its duration, and ``spark_counts`` reads the
group's jobs, stages and tasks back through ``statusTracker``.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    """Collects spans; a disabled tracer records nothing and wraps nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[type, str, object]] = []
        self._groups = 0

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, group: bool = False):
        return _Span(self, name, group)

    def _new_group(self, name: str) -> str:
        with self._lock:
            self._groups += 1
            return f"perfbench-{self._groups}-{name}"

    # -- method wrapping --------------------------------------------------------

    def wrap(self, cls: type, attr: str, name: str, group: bool = False, on_result=None):
        """Replace ``cls.attr`` with a version that runs inside a span.

        ``on_result(span, args, result)`` may add attributes to the span.
        Patching the class (not a module attribute) catches every call,
        including calls through names bound with ``from ... import``.
        """
        if not self.enabled:
            return
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, group=group) as sp:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, result)
                return result

        self.patch(cls, attr, traced)

    def patch(self, cls: type, attr: str, fn) -> None:
        """Set ``cls.attr`` to ``fn`` until ``unwrap_all``."""
        self._undo.append((cls, attr, cls.__dict__[attr]))
        setattr(cls, attr, fn)

    def unwrap_all(self) -> None:
        while self._undo:
            cls, attr, orig = self._undo.pop()
            setattr(cls, attr, orig)

    # -- spark accounting -----------------------------------------------------------

    def spark_counts(self, group: str) -> dict:
        """Jobs, stages that ran tasks, tasks run and tasks failed for a group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- analysis ---------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        spans = [{**s, "self": selfs[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **(extra or {})}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, group: bool):
        self.tracer = tracer
        self.name = name
        self.group = group
        self.rec: dict = {"attrs": {}}
        self._prev_group = None

    def set(self, **attrs) -> None:
        self.rec["attrs"].update(attrs)

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        stack = t._stack()
        with t._lock:
            sid = len(t.spans)
            self.rec.update(
                id=sid,
                name=self.name,
                parent=stack[-1]["id"] if stack else None,
                op=t.op,
                start=time.perf_counter(),
                end=None,
            )
            t.spans.append(self.rec)
        stack.append(self.rec)
        if self.group:
            g = t._new_group(self.name)
            self.rec["group"] = g
            self._prev_group = getattr(t._local, "group", None)
            t._local.group = g
            t.sc.setJobGroup(g, self.name)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        self.rec["end"] = time.perf_counter()
        if exc[0] is not None:
            self.rec["error"] = exc[0].__name__
        t._stack().pop()
        if self.group:
            t._local.group = self._prev_group
            if self._prev_group is None:
                t.sc.setLocalProperty("spark.jobGroup.id", None)  # clears it
            else:
                t.sc.setJobGroup(self._prev_group, "")
            self.rec["spark"] = t.spark_counts(self.rec["group"])
        return False
