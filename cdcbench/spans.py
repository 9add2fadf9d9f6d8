"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's side: ``Tracer.wrap`` replaces a
public entry point of an engine layer (a module function or a class
method) with a wrapper that opens a span around the call. Each span is
(name, start, end, parent) kept in memory; ``dump`` writes them out at
the end. While a span is innermost, the Spark jobs it launches carry its
own job group; the parent's group is restored on exit, so jobs are
attributed to the innermost layer that started them.

Spans nest per thread. A span opened on a thread with no open span (a
Structured Streaming ``foreachBatch`` callback) takes the innermost open
span of the thread that enabled the tracer as its parent.

Per-stage shuffle, spill and task times come from the driver's status
REST endpoint (``/api/v1``), which needs the Spark UI on; only the
traced run enables it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark_context: Callable[[], Any]):
        self.spans: list[Span] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._home: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []
        self._sc = spark_context

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def enable(self) -> None:
        self._local.stack = self._home
        self.enabled = True

    def disable(self) -> None:
        self.enabled = False

    def open(self, name: str, jobs: bool = True) -> tuple[Span, tuple | None]:
        stack = self._stack()
        parent = stack[-1] if stack else (self._home[-1] if self._home else None)
        span = Span(next(self._ids), name, parent.id if parent else None, time.time())
        restore = None
        sc = self._sc() if jobs else None
        if sc is not None:
            span.group = f"cdcbench-{span.id}"
            restore = (sc.getLocalProperty(GROUP_KEY), sc.getLocalProperty(DESC_KEY))
            sc.setLocalProperty(GROUP_KEY, span.group)
            sc.setLocalProperty(DESC_KEY, name)
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span, restore

    def close(self, span: Span, restore: tuple | None) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if restore is not None:
            sc = self._sc()
            sc.setLocalProperty(GROUP_KEY, restore[0])
            sc.setLocalProperty(DESC_KEY, restore[1])

    # ---------------------------------------------------------- patching
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        jobs: bool = True,
        on_result: Callable[[Span, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` by a span-opening wrapper (undo with
        ``unwrap_all``). ``on_result`` may copy fields of the return
        value into the span's attrs."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span, restore = tracer.open(name, jobs)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(span, out)
                return out
            finally:
                tracer.close(span, restore)

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s), default=str) + "\n")


# ------------------------------------------------------------- REST side
def _get(url: str) -> Any:
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def spark_status(sc, settle_s: float = 5.0) -> tuple[list[dict], dict[tuple[int, int], dict]]:
    """(jobs, stages by (stageId, attemptId)) from the local status API,
    after the listener bus has caught up: no job running and the job
    count unchanged between two polls."""
    port = sc.uiWebUrl.rsplit(":", 1)[1].split("/")[0]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    jobs, last = [], -1
    while True:
        jobs = _get(f"{base}/jobs")
        running = any(j.get("status") == "RUNNING" for j in jobs)
        if (not running and len(jobs) == last) or time.monotonic() > deadline:
            break
        last = len(jobs)
        time.sleep(0.2)
    stages = _get(f"{base}/stages?withSummaries=true&quantiles=0.5,1.0")
    return jobs, {(s["stageId"], s["attemptId"]): s for s in stages}
