"""In-memory span tracer for the benchmark's traced run.

The tracer wraps public functions of the engine's modules where their
callers look them up (a class attribute for methods, the importing
module's global for functions), records one span per call and restores
the originals on ``uninstall``. Spans that can launch Spark jobs run under
a job group of their own, and their job, stage and task counts are read
from ``SparkContext.statusTracker()`` once the round is over.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    # the span plus the tracer's own work around it (job-group calls);
    # a parent's self time excludes this whole interval
    outer_start: float | None = None
    outer_end: float | None = None

    def outer(self) -> tuple[float, float]:
        return (
            self.start if self.outer_start is None else self.outer_start,
            self.end if self.outer_end is None else self.outer_end,
        )

    def overhead(self) -> float:
        """The tracer's own time around this span (outer minus inner)."""
        lo, hi = self.outer()
        return (hi - lo) - (self.end - self.start)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
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
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.outer())
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def net_durations(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the tracer's own time around all its
    descendants, so a parent's figure holds none of the job-group calls its
    children made."""
    by_id = {s.id: s for s in spans}
    below = {s.id: 0.0 for s in spans}  # tracer time of a span's descendants
    # children always carry larger ids than their parents
    for s in sorted(spans, key=lambda s: -s.id):
        if s.parent in by_id:
            below[s.parent] += below[s.id] + s.overhead()
    return {s.id: (s.end - s.start) - below[s.id] for s in spans}


def inclusive_counts(spans: list[Span]) -> dict[int, tuple[int, int, int]]:
    """Span id -> (jobs, stages, tasks) of the span and all its descendants."""
    by_id = {s.id: s for s in spans}
    out = {s.id: [s.jobs, s.stages, s.tasks] for s in spans}
    # children always carry larger ids than their parents
    for s in sorted(spans, key=lambda s: -s.id):
        if s.parent in by_id:
            p = out[s.parent]
            for i, v in enumerate(out[s.id]):
                p[i] += v
    return {k: tuple(v) for k, v in out.items()}


class Tracer:
    def __init__(self):
        self.sc = None  # set once the session exists
        self.spans: list[Span] = []
        self.recording = False
        self._stack: list[Span] = []
        self._next_id = 0
        self._next_request = 0
        self._patches: list[tuple[object, str, object]] = []
        self._unresolved: list[Span] = []

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (the benchmark's own checks)."""
        was, self.recording = self.recording, False
        try:
            yield
        finally:
            self.recording = was

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = False, outer_start: float | None = None,
             **attrs):
        if not self.recording:
            yield None
            return
        if outer_start is None:
            outer_start = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_request += 1
        sp = Span(
            id=self._next_id,
            name=name,
            parent=parent.id if parent else None,
            request=parent.request if parent else self._next_request,
            start=0.0,
            attrs=dict(attrs),
            outer_start=outer_start,
        )
        self._next_id += 1
        if spark_jobs and self.sc is not None:
            sp.group = f"perfbench-{sp.id}"
            self.sc.setJobGroup(sp.group, name)
            self._unresolved.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if sp.group is not None:
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer, "")
            sp.outer_end = time.perf_counter()

    def resolve_spark_counts(self) -> None:
        """Fill in job / stage / task counts of every finished span that ran
        under a job group. Call between rounds: the listener bus is drained
        first, so the counts are complete."""
        if not self._unresolved:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for sp in self._unresolved:
            for job_id in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    # skipped stages (shuffle output reused) run no task
                    if st is not None and st.numCompletedTasks + st.numFailedTasks:
                        sp.stages += 1
                        sp.tasks += st.numCompletedTasks + st.numFailedTasks
        self._unresolved = []

    # -- wrapping ------------------------------------------------------------

    def _wrapper(self, fn, name: str, spark_jobs: bool, attrs_fn=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            # the attribute work is the tracer's, so it falls in the outer interval
            t0 = time.perf_counter()
            attrs = attrs_fn(*args, **kwargs) if attrs_fn and tracer.recording else {}
            with tracer.span(name, spark_jobs=spark_jobs, outer_start=t0, **attrs):
                return fn(*args, **kwargs)

        return wrapped

    def _cm_wrapper(self, fn, name: str):
        """Wrap a context-manager factory: the span covers entering it only
        (for a lock, the wait to acquire)."""
        tracer = self

        @functools.wraps(fn)
        @contextlib.contextmanager
        def wrapped(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                with tracer.span(name):
                    stack.enter_context(fn(*args, **kwargs))
                yield

        return wrapped

    def patch(self, owner, attr: str, name: str, spark_jobs: bool = False,
              attrs_fn=None, context_manager: bool = False) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        new = (
            self._cm_wrapper(orig, name)
            if context_manager
            else self._wrapper(orig, name, spark_jobs, attrs_fn)
        )
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def install_engine_patches(tracer: Tracer) -> None:
    """Wrap the engine layers the per-layer metrics are named after."""
    from redpanda_spark import fsio
    from redpanda_spark.consumer import Consumer
    from redpanda_spark.engine import TopicEngine
    from redpanda_spark.plans import queries
    from redpanda_spark.producer import BufferedProducer
    from redpanda_spark.sources import tables

    def text_attrs(_self, path, text):
        return {"file": path.rsplit("/", 1)[-1], "bytes": len(text.encode())}

    tracer.patch(TopicEngine, "produce", "engine.produce", spark_jobs=True)
    tracer.patch(TopicEngine, "fetch_rows", "engine.fetch_rows", spark_jobs=True)
    tracer.patch(TopicEngine, "offset_fetch", "engine.offset_fetch", spark_jobs=True)
    tracer.patch(
        TopicEngine, "offset_commit_batch", "engine.offset_commit_batch", spark_jobs=True
    )
    tracer.patch(
        fsio.LocalFS, "write_text_atomic", "fsio.write_text_atomic", attrs_fn=text_attrs
    )
    tracer.patch(fsio.LocalFS, "write_lock", "fsio.write_lock", context_manager=True)
    tracer.patch(BufferedProducer, "flush", "producer.flush", spark_jobs=True)
    tracer.patch(Consumer, "poll", "consumer.poll", spark_jobs=True)
    tracer.patch(Consumer, "commit", "consumer.commit", spark_jobs=True)
    # the catalog imports these by name, and topic_view looks load_table up
    # in its own module, so both lookups are wrapped
    tracer.patch(queries, "load_table", "sources.load_table", spark_jobs=True)
    tracer.patch(tables, "load_table", "sources.load_table", spark_jobs=True)
    tracer.patch(queries, "topic_view", "sources.topic_view", spark_jobs=True)
