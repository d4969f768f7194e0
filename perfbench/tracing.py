"""Spans recorded from the benchmark's own code around each public
engine call and each action.

A span holds a name, start, end, its parent span and the pass of the
workload's operations it belongs to. While a span is open its thread's Spark job group is
``pb-<span id>``, so the event log attributes every job (and through the
job its stages and tasks) to the span that submitted it. py4j round
trips are counted by wrapping the gateway client's ``send_command``.
Spans are kept in memory and written out when the run ends.

With ``enabled=False`` every ``span`` is a no-op: the end-to-end
metrics are measured that way.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP_PREFIX = "pb-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"{JOB_GROUP_PREFIX}{self.sid}"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.iteration = 0
        self.spans: list[Span] = []
        self.plan_phases: list[dict] = []
        self._sc = spark.sparkContext
        self._spark = spark
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._listener = None
        self._client = None
        self._orig_send = None

    # --- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        """Open a span; ``parent`` defaults to the innermost open span of
        this thread (pass it explicitly from a worker thread)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sp = Span(
            sid=next(self._ids),
            name=name,
            parent=parent.sid if parent else None,
            iteration=self.iteration,
            start=time.time(),
            attrs=attrs,
        )
        prev = self._swap_group(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._swap_group(*prev)
            with self._lock:
                self.spans.append(sp)

    def _swap_group(self, group: str | None, desc: str | None):
        """Set this thread's job group, returning the one it replaces.
        The tracer's own py4j calls are not counted."""
        self._local.quiet = True
        try:
            old = (
                self._sc.getLocalProperty("spark.jobGroup.id"),
                self._sc.getLocalProperty("spark.job.description"),
            )
            self._sc.setLocalProperty("spark.jobGroup.id", group)
            self._sc.setLocalProperty("spark.job.description", desc)
            return old
        finally:
            self._local.quiet = False

    # --- py4j round trips -----------------------------------------------
    def _count_py4j(self) -> None:
        if getattr(self._local, "quiet", False):
            return
        st = getattr(self._local, "stack", None)
        if st:
            st[-1].py4j_calls += 1

    def install(self) -> None:
        """Wrap py4j's ``send_command`` and register a query-execution
        listener that records each action's planning phases."""
        client = self._sc._gateway._gateway_client
        orig = client.send_command

        def counted(*args, **kwargs):
            self._count_py4j()
            return orig(*args, **kwargs)

        client.send_command = counted
        self._client, self._orig_send = client, orig
        self._register_plan_listener()

    def uninstall(self) -> None:
        if self._listener is not None:
            self._local.quiet = True
            try:
                jsc = self._sc._jsc.sc()
                jsc.listenerBus().waitUntilEmpty(10_000)
                self._spark._jsparkSession.listenerManager().unregister(self._listener)
            finally:
                self._local.quiet = False
            self._listener = None
        if self._client is not None:
            self._client.send_command = self._orig_send
            self._client = None

    def _register_plan_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        tracer = self

        class PlanListener:
            """py4j proxy for ``QueryExecutionListener``: reads the
            query-planning tracker of every finished action."""

            def onSuccess(self, func_name, qe, duration_ns):
                tracer._local.quiet = True
                try:
                    phases = qe.tracker().phases()
                    rec = {"func": func_name, "duration_s": duration_ns / 1e9}
                    for ph in ("analysis", "optimization", "planning"):
                        opt = phases.get(ph)
                        if opt.isDefined():
                            s = opt.get()
                            rec[ph] = [s.startTimeMs() / 1e3, s.endTimeMs() / 1e3]
                    with tracer._lock:
                        tracer.plan_phases.append(rec)
                finally:
                    tracer._local.quiet = False

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._local.quiet = True
        try:
            ensure_callback_server_started(self._sc._gateway)
            self._listener = PlanListener()
            self._spark._jsparkSession.listenerManager().register(self._listener)
        finally:
            self._local.quiet = False

    # --- output ---------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the time its child
    spans cover. Where several open spans have no open child (sibling
    spans running on different threads), the interval is shared equally
    between them, so the self times of one tree add up to the wall time
    its root spans cover."""
    events = []
    for sp in spans:
        events.append((sp.start, 1, sp))
        events.append((sp.end, 0, sp))
    events.sort(key=lambda e: (e[0], e[1]))
    out = {sp.sid: 0.0 for sp in spans}
    active: dict[int, Span] = {}
    open_children: Counter = Counter()
    prev = None
    for t, is_start, sp in events:
        if prev is not None and t > prev and active:
            leaves = [sid for sid in active if open_children[sid] == 0]
            share = (t - prev) / len(leaves)
            for sid in leaves:
                out[sid] += share
        if is_start:
            active[sp.sid] = sp
            if sp.parent in active:
                open_children[sp.parent] += 1
        else:
            active.pop(sp.sid, None)
            if sp.parent in active:
                open_children[sp.parent] -= 1
        prev = t
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer (the span name up to its first dot)."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        out[sp.layer] += st[sp.sid]
    return dict(out)


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids = defaultdict(list)
    for sp in spans:
        kids[sp.parent].append(sp)
    out, todo = [], [root]
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids[sp.sid])
    return out
