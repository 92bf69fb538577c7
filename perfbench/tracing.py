"""Spans and counters for the traced run, recorded from outside the engine.

The tracer wraps the public entry points of each engine layer (runner,
executor, storage, operators, ``operators._cache``, session) and records
one span per call: name, start, end, parent span, dump id and iteration.
Spans stay in memory until the run ends.

While a span is open on a thread, the Spark local properties
``perfbench.layer``, ``perfbench.dump`` and ``perfbench.iter`` (and a job
group named after them) tag every job that thread launches. Streaming
queries inherit the properties of the thread that starts them, so their
micro-batch jobs land on the right dump too. The Spark event log that the
traced run enables then attributes jobs, stages and task metrics to
layers offline (:func:`parse_eventlog`).
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime

PROPS = ("perfbench.layer", "perfbench.dump", "perfbench.iter")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    dump: str | None
    iter: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self.sc = None  # SparkContext whose jobs the spans tag
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, span: Span | None) -> None:
        """Tag this thread's Spark jobs with ``span`` (None clears)."""
        if self.sc is None:
            return
        values = (None,) * 3
        group = None
        if span is not None:
            layer = span.name.split(":")[0]
            values = (layer, span.dump, None if span.iter is None else str(span.iter))
            if span.dump is not None:
                group = f"{span.iter}/{span.dump}/{layer}"
        for key, value in zip(PROPS, values):
            self.sc.setLocalProperty(key, value)
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, dump: str | None = None):
        """Record ``name`` around the body. ``dump`` defaults to the
        enclosing span's; the layer is the part of ``name`` before ``:``."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            s = Span(sid, name, time.perf_counter(), 0.0, parent.id if parent else None,
                     dump if dump is not None else (parent.dump if parent else None),
                     self.iteration)
            self.spans.append(s)
        stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._tag(stack[-1] if stack else None)

    def wrap(self, name: str, fn, dump_of=None):
        def wrapped(*args, **kwargs):
            with self.span(name, dump_of(*args, **kwargs) if dump_of else None):
                return fn(*args, **kwargs)

        wrapped.__name__ = getattr(fn, "__name__", name)
        return wrapped

    def dump_spans(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def install(tracer: Tracer) -> None:
    """Wrap each layer's public functions in spans, once per process."""
    import floorist_spark.operators._cache as cache
    import floorist_spark.operators.catalog as catalog
    import floorist_spark.runner as runner
    from floorist_spark.executor import DumpExecutor
    from floorist_spark.storage import StorageClient

    DumpExecutor.execute = tracer.wrap(
        "executor", DumpExecutor.execute,
        dump_of=lambda self, row, n: f"{n}:{row.get('prefix')}",
    )
    StorageClient.write_parquet = tracer.wrap("storage:write", StorageClient.write_parquet)
    StorageClient.list_parquet_files = tracer.wrap("storage:list", StorageClient.list_parquet_files)
    StorageClient.write_empty_marker = tracer.wrap("storage:marker", StorageClient.write_empty_marker)
    release = tracer.wrap("operators._cache:release", cache.release_caches)
    cache.release_caches = release
    catalog.release_caches = release
    runner.register_views = tracer.wrap("session:register_views", runner.register_views)
    runner.FlooristSpark.__init__ = tracer.wrap("runner:init", runner.FlooristSpark.__init__)


def wrap_query_runner(tracer: Tracer, flooristspark) -> None:
    """Span the floorplan query builder of one ``FlooristSpark``: it is an
    attribute of its executor, built per instance."""
    ex = flooristspark.executor
    ex.query_runner = tracer.wrap("operators:build", ex.query_runner)


def streaming_listener(records: list[dict]):
    """A ``StreamingQueryListener`` that appends one record per trigger of
    any streaming query: its start time (epoch seconds), addBatch time and
    state-store rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append({
                "start": datetime.fromisoformat(p.timestamp).timestamp(),
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1000.0,
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def span_summary(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per iteration: summed seconds per span name; the executor's dumps,
    attempts (query builds inside a dump) and self time (its spans minus
    their child spans)."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    name_of = {s["id"]: s["name"] for s in spans}
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["iter"] is None:
            continue
        d = s["end"] - s["start"]
        it = out[s["iter"]]
        it[s["name"].replace(":", ".") + "_s"] += d
        if s["name"] == "executor":
            it["executor.dumps"] += 1
            it["executor.self_s"] += d - child_s[s["id"]]
        elif s["name"] == "operators:build" and name_of.get(s["parent"]) == "executor":
            it["executor.attempts"] += 1
    return out


def coverage(spans: list[dict], start: float, end: float) -> float:
    """Share of ``[start, end]`` covered by the union of top-level spans."""
    ivs = sorted((max(s["start"], start), min(s["end"], end)) for s in spans
                 if s["parent"] is None and s["end"] > start and s["start"] < end)
    covered, reach = 0.0, start
    for a, b in ivs:
        if b > reach:
            covered += b - max(a, reach)
            reach = b
    return covered / (end - start) if end > start else 1.0


def parse_eventlog(path: str) -> tuple[dict[int, dict[str, float]], list[float]]:
    """Jobs and stages per layer, and task metrics, per iteration, from a
    Spark JSON event log. Only work tagged with an iteration counts; the
    submission times (epoch seconds) of untagged jobs are returned too, so
    jobs the tags missed inside the measured window show."""
    stage_props: dict[int, dict] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    untagged: list[float] = []

    def tags(props: dict | None):
        props = props or {}
        it = props.get("perfbench.iter")
        return (int(it), props.get("perfbench.layer")) if it is not None else (None, None)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                it, layer = tags(ev.get("Properties"))
                if it is not None:
                    out[it][f"{layer}.jobs"] += 1
                else:
                    untagged.append(ev.get("Submission Time", 0) / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_props[sid] = ev.get("Properties") or {}
                it, layer = tags(stage_props[sid])
                if it is not None:
                    out[it][f"{layer}.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                it, _ = tags(stage_props.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if it is None or not m:
                    continue
                o = out[it]
                o["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                o["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                o["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                o["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                o["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out, untagged


def median_over(iters: dict[int, dict[str, float]], key: str, which) -> float:
    """Median of a per-iteration value over the iterations ``which``;
    iterations without it count 0."""
    return statistics.median([iters.get(i, {}).get(key, 0.0) for i in which])
