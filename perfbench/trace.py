"""Spans for the traced run, recorded from the benchmark's own files.

A span has a name, start, end, parent and the run id. Spans are kept in
memory and written out when the run ends. The tracer wraps the public
functions of each engine layer from outside the package (it rebinds
every module attribute that refers to the function), tags each span's
Spark jobs with a job group so execution lands on the span that
triggered the action, and counts py4j round trips per span.

Self time of a span = its duration minus the part of that interval its
child spans cover. Because spans of one thread nest, the self times of
all spans in a tree add up to the root's duration; the root's own self
time is the explicit unattributed remainder.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    py4j: int = 0
    attrs: dict = field(default_factory=dict)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` ((start, end) pairs), clipped
    to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {s.sid: (s.end - s.start) - covered([(c.start, c.end) for c in children.get(s.sid, [])],
                                                s.start, s.end)
            for s in spans}


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.py4j_calls = 0
        self._counting = True
        self.bookkeeping_s = 0.0  # time the tracer itself spends in spans' begin/end
        # wall-clock epoch seconds minus perf_counter: maps Spark's
        # millisecond timestamps onto the spans' clock
        self.epoch_offset = time.time() - time.perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        self._counting = False
        try:
            if span is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"pb{span.sid}", span.name)
        finally:
            self._counting = True

    def begin(self, name: str, **attrs) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, parent, self.run_id, t0, attrs=attrs)
        s.py4j = self.py4j_calls
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        self.bookkeeping_s += time.perf_counter() - t0
        return s

    def end(self, s: Span) -> None:
        t0 = time.perf_counter()
        top = self.stack.pop()
        if top is not s:
            raise RuntimeError(f"span {s.name} closed out of order (open: {top.name})")
        self._set_group(self.stack[-1] if self.stack else None)
        s.py4j = self.py4j_calls - s.py4j
        s.end = time.perf_counter()
        self.bookkeeping_s += s.end - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    # ---- wrapping ------------------------------------------------------
    def _wrapper(self, orig, name: str, before=None, after=None):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = tracer.begin(name)
            try:
                if before is not None:
                    before(s, args, kwargs)
                res = orig(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs, res)
                return res
            finally:
                tracer.end(s)

        return wrapper

    def wrap_function(self, module_name: str, attr: str, span_name: str | None = None,
                      before=None, after=None) -> None:
        """Rebind `module.attr` everywhere the engine refers to it
        (every loaded module attribute that is the same object) to a
        span-recording wrapper. `before(span, args, kwargs)` and
        `after(span, args, kwargs, result)` may add span attributes."""
        mod = sys.modules[module_name]
        orig = getattr(mod, attr)
        name = span_name or f"{module_name.removeprefix('data_warehouse_nhom8_spark.')}.{attr}"
        wrapper = self._wrapper(orig, name, before, after)
        for m in list(sys.modules.values()):
            if m is None or not getattr(m, "__name__", "").startswith("data_warehouse_nhom8_spark"):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    self._patched.append((m, k, v))
                    setattr(m, k, wrapper)

    def wrap_method(self, cls, attr: str, span_name: str, before=None, after=None) -> None:
        orig = getattr(cls, attr)
        self._patched.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, span_name, before, after))

    def excluded(self, sid: int, names: tuple[str, ...]) -> bool:
        """True if the span or an ancestor is named in `names`."""
        while sid is not None:
            s = self.spans[sid]
            if s.name in names:
                return True
            sid = s.parent
        return False

    def count_py4j(self) -> None:
        """Count every py4j command sent to the JVM."""
        import py4j.clientserver
        import py4j.java_gateway

        tracer = self
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, __orig=orig, **kw):
                if tracer._counting:
                    tracer.py4j_calls += 1
                return __orig(conn, command, *a, **kw)

            self._patched.append((cls, "send_command", orig))
            cls.send_command = send_command

    def unpatch(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    # ---- Spark attribution ---------------------------------------------
    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self.epoch_offset

    def spark_records(self) -> dict[int, list[dict]]:
        """Read every job of this run back from Spark's status store and
        attribute it (with its stages) to the span whose job group it
        carries. Returns span id -> job records; a record's `start` and
        `end` are on the spans' clock."""
        sc = self.spark.sparkContext
        jvm = self.spark._jvm
        store = sc._jsc.sc().statusStore()

        def ms(opt):
            return opt.get().getTime() if opt.isDefined() else None

        empty = jvm.java.util.ArrayList()
        stages = {}
        sl = store.stageList(empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)
        for i in range(sl.size()):
            st = sl.apply(i)
            if str(st.status()) != "COMPLETE":
                continue
            sub, first, comp = ms(st.submissionTime()), ms(st.firstTaskLaunchedTime()), ms(st.completionTime())
            stages[(st.stageId(), st.attemptId())] = {
                "id": st.stageId(),
                "launch_delay_s": ((first - sub) / 1000.0) if sub and first else 0.0,
                "task_s": st.executorRunTime() / 1000.0,
                "tasks": st.numCompleteTasks(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        by_stage: dict[int, list[dict]] = {}
        for s in stages.values():
            by_stage.setdefault(s["id"], []).append(s)
        per_span: dict[int, list[dict]] = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            grp = j.jobGroup()
            if not grp.isDefined() or not str(grp.get()).startswith("pb"):
                continue
            sid = int(str(grp.get())[2:])
            sub, comp = ms(j.submissionTime()), ms(j.completionTime())
            rec = {"wall_s": ((comp - sub) / 1000.0) if sub and comp else 0.0,
                   "start": self.from_epoch_ms(sub) if sub else None,
                   "end": self.from_epoch_ms(comp) if comp else None,
                   "stages": [], "job_id": j.jobId()}
            ids = j.stageIds()
            for k in range(ids.size()):
                rec["stages"] += by_stage.get(ids.apply(k), [])
            per_span.setdefault(sid, []).append(rec)
        return per_span

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"id": s.sid, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                         "start": s.start, "end": s.end, "self_s": selfs[s.sid],
                         "py4j_calls": s.py4j, **s.attrs}
                        for s in self.spans
                    ],
                    **(extra or {}),
                },
                fh,
            )
