"""Outside-in tracing: spans around calls into the engine's public
functions, and Spark's own job and stage metrics per op.

Spans stay in memory, are summarized per traced pass and are written out
(to stderr, one JSON line) at the end of a traced run. A span's
parent is the innermost open span on its own thread; spans opened on other
threads (the KMS server's handler threads, the streaming query's
``foreachBatch`` callback thread) attach to the innermost span open on the
main thread at that moment. Every span carries the id of the op it ran in.

Spark metrics come from the JVM ``AppStatusStore``, which is kept with
``spark.ui.enabled=false``. Each op runs in its own job group, but jobs are
attributed by job-id window (the ids that appeared while the op ran) since
jobs started on other threads (streaming, driver thread pools) do not carry
the caller's group. One client runs one op at a time, so the window is
exact.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    op: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Span recorder; while disabled it records nothing, and its patched
    functions call straight through."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_id = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.denied = 0

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = Span(next(self._ids), self.op_id, name, parent, time.perf_counter())
        with self._lock:
            self.spans.append(span)
        stack.append(span.id)
        return span

    def _close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span.id:
            stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span = self._open(name)
        try:
            yield
        finally:
            self._close(span)

    def patch(self, module, attr: str, name: str | None = None) -> None:
        """Wrap ``module.attr`` in a span named ``name``, recorded while the
        tracer is enabled. A function that returns a context manager
        (``decrypting_scan``) gets a span over the whole ``with`` block,
        since that is where its scan runs."""
        orig = getattr(module, attr)
        name = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            span = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException:
                tracer._close(span)
                raise
            if hasattr(out, "__enter__") and hasattr(out, "__exit__"):
                return _SpanCM(tracer, span, out)
            tracer._close(span)
            return out

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def count_denials(self, module, attr: str) -> None:
        """Count ``False`` results of an authorization predicate."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            ok = orig(*args, **kwargs)
            if not ok and tracer.enabled:
                with tracer._lock:
                    tracer.denied += 1
            return ok

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self.denied = 0

    # -- summaries -------------------------------------------------------
    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "op": s.op, "name": s.name, "parent": s.parent, "start": s.t0, "end": s.t1}
            for s in self.spans
        ]

    def total(self, name: str) -> float:
        return sum(s.t1 - s.t0 for s in self.spans if s.name == name and s.t1)

    def self_time(self) -> dict[str, float]:
        """Per layer: each span's duration minus the part of it that its
        child spans cover (overlapping children counted once)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if not s.t1:
                continue
            covered = _union_len(
                [(max(c.t0, s.t0), min(c.t1 or s.t1, s.t1)) for c in children[s.id]]
            )
            out[s.layer] += (s.t1 - s.t0) - covered
        return dict(out)


class _SpanCM:
    """Context manager proxy that closes its span when the block exits."""

    def __init__(self, tracer: Tracer, span: Span, inner) -> None:
        self._tracer, self._span, self._inner = tracer, span, inner

    def __enter__(self):
        try:
            return self._inner.__enter__()
        except BaseException:
            self._tracer._close(self._span)
            raise

    def __exit__(self, *exc):
        try:
            return self._inner.__exit__(*exc)
        finally:
            self._tracer._close(self._span)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "gc_s",
)


class SparkMeter:
    """Job and stage metrics of the jobs that ran inside a window, read
    from the JVM AppStatusStore."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        jobs = self._jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def window(self, after: int) -> dict[str, float]:
        """Totals over jobs with id > ``after``."""
        self._drain()
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= after:
                break
            n_jobs += 1
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(x) for x in ids.split(",") if x)
        out = dict.fromkeys(STAGE_FIELDS, 0.0) | {"jobs": n_jobs, "stages": 0, "tasks": 0}
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage that never ran has no attempt
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
            out["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    def storage_bytes(self) -> int:
        """Bytes held by cached RDD blocks (memory plus disk)."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())
