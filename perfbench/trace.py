"""Spans around calls into the program's public functions, with Spark
job counters attributed to them.

The tracer installs wrappers on public callables where their callers
resolve them (a module attribute, a class attribute or one object's
method).  Each span sets a Spark job group; after every traced
operation the counters of the jobs it ran are read from the driver's
status store and added to the innermost span that submitted them.  A job
without a group (one submitted from a thread the program starts itself)
goes to the innermost span open at its submission time.  Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
import types

GROUP_PROP = "spark.jobGroup.id"


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end",
                 "jobs", "tasks", "task_s", "shuffle_bytes", "top_stage")

    def __init__(self, sid, name, parent, op):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start, self.end = time.time(), None
        self.jobs = self.tasks = self.shuffle_bytes = 0
        self.task_s = 0.0
        self.top_stage = None  # (executor run ms, stage id, attempt) of its largest stage

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """``active=False`` installs no wrapper and records nothing, so an
    untimed run calls the program exactly as it is."""

    def __init__(self, spark, active: bool = True):
        self.sc = spark.sparkContext
        self.active = active
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = None
        self._last_job = -1
        self._patches: list[tuple] = []

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, self._op)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(GROUP_PROP, f"perfbench-{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, f"perfbench-{parent.sid}" if parent else None)

    @contextlib.contextmanager
    def op(self, op_id):
        """One benchmark operation; its spans and jobs are collected when
        it returns, outside the caller's timing."""
        self.enabled, self._op = self.active, op_id
        try:
            with self.span("op"):
                yield
        finally:
            self.enabled = False
        if self.active:
            self.collect(op_id)

    # --------------------------------------------------------- wrappers
    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unpatch``."""
        if not self.active:
            return
        own = isinstance(owner, (type, types.ModuleType))
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig if own else None))
        setattr(owner, attr, self.wrap(name, orig))

    def patch_context(self, owner, attr: str, prefix: str) -> None:
        """Trace a context-manager method ``owner.attr(self, label, ...)``
        as span ``prefix + label``."""
        if not self.active:
            return
        orig = getattr(owner, attr)
        tracer = self

        @contextlib.contextmanager
        def traced(obj, label, *args, **kwargs):
            with tracer.span(prefix + label), orig(obj, label, *args, **kwargs) as v:
                yield v

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)  # drop the per-object override
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # --------------------------------------------------------- counters
    def collect(self, op_id) -> None:
        """Attribute every job finished since the last call to the spans
        of operation ``op_id``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        spans = [s for s in self.spans if s.op == op_id]
        by_group = {f"perfbench-{s.sid}": s for s in spans}
        jobs = store.jobsList(None)  # newest first
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            grp = job.jobGroup()
            sp = by_group.get(grp.get()) if grp.isDefined() else None
            if sp is None and not grp.isDefined() and job.submissionTime().isDefined():
                t = job.submissionTime().get().getTime() / 1000.0
                inside = [s for s in spans if s.start <= t <= (s.end or t)]
                sp = max(inside, key=lambda s: s.start) if inside else None
            if sp is None:
                continue  # submitted outside any traced span
            sp.jobs += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                st = store.lastStageAttempt(stage_ids.apply(k))
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                run_ms = st.executorRunTime()
                sp.tasks += st.numCompleteTasks()
                sp.task_s += run_ms / 1000.0
                sp.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                if sp.top_stage is None or run_ms > sp.top_stage[0]:
                    sp.top_stage = (run_ms, st.stageId(), st.attemptId())
        self._last_job = newest

    def task_skew(self, top_stage) -> float:
        """max / median task run time of one stage (1.0 for a stage of
        one task)."""
        if top_stage is None:
            return 0.0
        _, sid, attempt = top_stage
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self.sc._jsc.sc().statusStore().taskSummary(sid, attempt, q)
        if not dist.isDefined():
            return 0.0
        rt = dist.get().executorRunTime()
        med, top = rt.apply(0), rt.apply(1)
        return top / med if med > 0 else 1.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")


# ------------------------------------------------------------ aggregation
FIELDS = ("wall_s", "self_s", "jobs", "tasks", "task_s", "shuffle_bytes")


def layer_table(tracer: Tracer, layers: dict[str, tuple[str, ...]], ops: list,
                skew_layers: tuple[str, ...] = ()) -> dict:
    """Median over ``ops`` of each layer's per-op totals.

    A layer is a set of span names.  Counters are inclusive of child
    spans; ``self_s`` is a span's duration minus its children's.  A span
    nested in another span of the same layer is not counted twice.  For
    ``skew_layers`` the layer's largest stage in each op also gives
    ``task_skew``.
    """
    spans = tracer.spans
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    layer_of = {name: layer for layer, names in layers.items() for name in names}

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x.sid, ()))
        return out

    def outermost(s, layer):
        p = s.parent
        while p is not None:
            if layer_of.get(spans[p].name) == layer:
                return False
            p = spans[p].parent
        return True

    per_op = {layer: {f: [] for f in FIELDS + ("task_skew",)} for layer in layers}
    for op in ops:
        sums = {layer: dict.fromkeys(FIELDS, 0.0) for layer in layers}
        top = dict.fromkeys(layers)
        for s in spans:
            layer = layer_of.get(s.name)
            if s.op != op or layer is None or not outermost(s, layer):
                continue
            acc = sums[layer]
            wall = s.end - s.start
            acc["wall_s"] += wall
            acc["self_s"] += wall - sum(k.end - k.start for k in children.get(s.sid, ()))
            for x in subtree(s):
                acc["jobs"] += x.jobs
                acc["tasks"] += x.tasks
                acc["task_s"] += x.task_s
                acc["shuffle_bytes"] += x.shuffle_bytes
                if x.top_stage is not None and (top[layer] is None or x.top_stage > top[layer]):
                    top[layer] = x.top_stage
        for layer in layers:
            for f in FIELDS:
                per_op[layer][f].append(sums[layer][f])
            if layer in skew_layers:
                per_op[layer]["task_skew"].append(tracer.task_skew(top[layer]))
    out = {}
    for layer in layers:
        for f in FIELDS + (("task_skew",) if layer in skew_layers else ()):
            vals = per_op[layer][f]
            out[f"{layer}.{f}"] = statistics.median(vals) if vals else 0.0
    return out
