"""In-memory spans around the calls into each layer, plus the statistics
helpers the benchmark reports with.

Spans are recorded only from the benchmark's own files: the public methods
of the ``SparkDAO`` / ``Ballcone`` instances the benchmark constructs are
wrapped on the instance, never on the class or module.  Each span sets its
own Spark job group, so the jobs, stages and tasks it launched are read back
from ``sparkContext.statusTracker()`` when it ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    thread: str
    start: float
    end: float = 0.0
    tag: str = ""  # e.g. the HTTP route a span serves; children inherit it
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest whole percentile that still has at least ``beyond`` of
    ``n`` samples above it (0 when ``n <= beyond``)."""
    if n <= beyond:
        return 0.0
    return float(math.floor(100.0 * (n - beyond) / n))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: dict[int, Span]) -> float:
    """A span's duration minus the part its child spans cover."""
    kids = [(spans[c].start, spans[c].end) for c in span.children]
    return span.dur - covered(kids, span.start, span.end)


class Tracer:
    """Span recorder.  Disabled, it wraps nothing and each ``span`` is an
    empty context manager, so the untraced run measures the program alone.
    Job counts are read after the run (:meth:`count_jobs`), when the status
    tracker has caught up."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, tag: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if not tag and parent is not None:
            tag = self.spans[parent].tag
        sp = Span(next(self._ids), parent, name,
                  threading.current_thread().name, time.perf_counter(), tag=tag)
        with self._lock:
            self.spans[sp.sid] = sp
            if parent is not None:
                self.spans[parent].children.append(sp.sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(f"perfbench-{sp.sid}", name)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])

    def count_jobs(self) -> None:
        """Fill each span's job, stage and task counts from the status
        tracker, once the listener bus has delivered every event."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for sp in self.spans.values():
            for job in tracker.getJobIdsForGroup(f"perfbench-{sp.sid}"):
                sp.jobs += 1
                info = tracker.getJobInfo(job)
                for stage in (info.stageIds if info else []):
                    sp.stages += 1
                    st = tracker.getStageInfo(stage)
                    sp.tasks += st.numTasks if st else 0

    def wrap(self, obj, layer: str, methods: list[str]) -> None:
        """Shadow ``obj``'s public ``methods`` with traced call-throughs,
        on this instance only."""
        if not self.enabled:
            return
        for m in methods:
            fn = getattr(obj, m)

            @functools.wraps(fn)
            def traced(*a, _fn=fn, _name=f"{layer}.{m}", **k):
                with self.span(_name):
                    return _fn(*a, **k)

            setattr(obj, m, traced)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for sp in self.spans.values():
                rec = {k: v for k, v in vars(sp).items() if k != "children"}
                fh.write(json.dumps(rec) + "\n")

    # -- queries over the recorded spans ------------------------------ #

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans.values() if s.name == name and s.end]

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], list(sp.children)
        while todo:
            c = self.spans[todo.pop()]
            out.append(c)
            todo.extend(c.children)
        return out
