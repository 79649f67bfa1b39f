"""Outside-in tracing for the benchmark's traced run.

Spans are recorded around calls into the package's public callables,
from the benchmark's own files: :meth:`Tracer.wrap` replaces an
attribute of an object or module with a timing wrapper, so the package
itself is unchanged. Spans stay in memory (name, start, end, parent,
request id) and are written out once, when the run ends.

Spark's own counters come from the event log the traced run enables:
each op runs under a job tag, and :func:`spark_counters` attributes
jobs, stages that ran, tasks, shuffle bytes, executor run time and JVM
GC time to the tags.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: (name, start, end, parent index or -1, request id)
        self.spans: list[tuple[str, float, float, int, str]] = []
        self._stack: list[int] = []
        self._request = ""

    @property
    def request_id(self) -> str:
        """The id of the op in flight ("" outside an op)."""
        return self._request

    @contextlib.contextmanager
    def request(self, request_id: str, name: str):
        """The root span of one op; spans opened inside share its id."""
        self._request = request_id
        try:
            with self.span(name):
                yield
        finally:
            self._request = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self._request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _end, p, req = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), p, req)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def wrap_lease(self, owner, attr: str, name: str) -> None:
        """Time acquiring and releasing the context manager that
        ``owner.attr()`` returns, not the time it is held."""
        fn = getattr(owner, attr)
        tracer = self

        @contextlib.contextmanager
        def traced(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                with tracer.span(name):
                    value = stack.enter_context(fn(*args, **kwargs))
                try:
                    yield value
                finally:
                    with tracer.span(name):
                        stack.close()

        setattr(owner, attr, traced)

    # -- reduction ------------------------------------------------------------

    def per_request(self, name: str, root: str) -> dict[str, float]:
        """Milliseconds spent in spans ``name``, by request id, for each
        request whose root span is ``root`` (requests without such a
        span count 0)."""
        totals: dict[str, float] = {}
        for n, _s, _e, _p, req in self.spans:
            if n == root:
                totals[req] = 0.0
        for n, s, e, _p, req in self.spans:
            if n == name and req in totals:
                totals[req] += (e - s) * 1000.0
        return totals

    def self_ms(self, name: str) -> list[float]:
        """Per span ``name``: its duration minus its direct children's."""
        child: dict[int, float] = defaultdict(float)
        for _n, s, e, p, _r in self.spans:
            if p >= 0:
                child[p] += e - s
        return [
            (e - s - child[i]) * 1000.0
            for i, (n, s, e, _p, _r) in enumerate(self.spans)
            if n == name
        ]

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, req in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": name,
                            "start": start,
                            "end": end,
                            "parent": parent,
                            "request": req,
                        }
                    )
                    + "\n"
                )


@contextlib.contextmanager
def job_tag(spark, tag: str | None):
    """Run the block's Spark jobs under ``tag`` (no-op for None)."""
    if tag is None:
        yield
        return
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def spark_counters(event_dir: Path) -> dict[str, dict[str, float]]:
    """Per job tag, from the (stopped) application's event log: jobs,
    stages that ran, tasks, shuffle bytes written, executor run ms, JVM
    GC ms, and the ms from the first job's submission to the last job's
    completion. Skipped stages never start, so they are not counted."""
    stage_tags: dict[int, list[str]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_write_bytes", "executor_run_ms", "jvm_gc_ms",
             "job_span_ms"),
            0.0,
        )
    )
    job_tags: dict[int, list[str]] = {}
    #: per tag: the first job's submission and the last job's completion
    job_window: dict[str, list[float]] = {}
    for log in sorted(event_dir.iterdir()):
        with open(log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
                    job_tags[ev["Job ID"]] = tags
                    for t in tags:
                        out[t]["jobs"] += 1
                        window = job_window.setdefault(t, [ev["Submission Time"]] * 2)
                        window[0] = min(window[0], ev["Submission Time"])
                    for sid in ev["Stage IDs"]:
                        stage_tags[sid].extend(tags)
                elif kind == "SparkListenerJobEnd":
                    for t in job_tags.get(ev["Job ID"], ()):
                        window = job_window[t]
                        window[1] = max(window[1], ev["Completion Time"])
                elif kind == "SparkListenerStageSubmitted":
                    for t in set(stage_tags.get(ev["Stage Info"]["Stage ID"], ())):
                        out[t]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tags = set(stage_tags.get(ev["Stage ID"], ()))
                    if not tags:
                        continue
                    m = ev.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for t in tags:
                        c = out[t]
                        c["tasks"] += 1
                        c["shuffle_write_bytes"] += shuffle
                        c["executor_run_ms"] += m.get("Executor Run Time", 0)
                        c["jvm_gc_ms"] += m.get("JVM GC Time", 0)
    for t, (first, last) in job_window.items():
        out[t]["job_span_ms"] = last - first
    return dict(out)
