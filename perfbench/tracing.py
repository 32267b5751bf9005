"""Layer attribution read from outside the program.

Nothing here changes ``conveyor_spark``. The tracer

- wraps every registered op in ``registry.REGISTRY`` (``dataclasses.
  replace`` on the frozen ``Op``), so each op call becomes a span;
- when tracing is on, gives each span its own Spark job group, so the
  jobs an op launches attribute to it;
- after each traced item, reads the stages of those jobs from Spark's
  status store (``lastStageAttempt``) and the Python-node metrics of
  the item's SQL executions from the SQL status store;
- collects micro-batch progress with a ``StreamingQueryListener``
  (streaming jobs run on the query's own thread, so they carry no job
  group and are attributed to the span they ran in by start time).

Spans stay in memory and are written once, by ``dump``.
"""

from __future__ import annotations

import dataclasses
import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1 << 20

# SQL-store metric names of Python plan nodes (PythonSQLMetrics)
PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0 / MB, "KiB": 1.0 / 1024, "MiB": 1.0, "GiB": 1024.0,
          "TiB": 1024.0 ** 2}
_VALUE_RE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")

# the datapipe functions whose own spans are reported one by one
DATAPIPE_FUNCTIONS = ("embedding.kmeans", "embedding.assign_cells", "embedding.pq",
                      "embedding.pq_encode", "knn.ivfpq")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL-store metric, in s or MiB.

    Values read like ``"1.2 s"`` or, with per-task statistics, like
    ``"total (min, med, max (stageId: taskId))\\n12.3 MiB (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.search(line)
    if not m or m[2] not in _UNITS:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m[1].replace(",", "")) * _UNITS[m[2]]


def _seq(jseq) -> Iterator[Any]:
    """Iterate a Scala collection through py4j."""
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Span:
    item: int
    name: str
    layer: str  # item | config | sources | compiler | sinks
    start: float
    parent: int | None
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list[dict[str, Any]]):
        self.sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        self.sink.append({
            "wall": time.time(),
            "duration_ms": dict(p.durationMs),
            "state_rows": state.numRowsTotal if state else 0,
            "state_bytes": state.memoryUsedBytes if state else 0,
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans around op calls; Spark-side attribution when ``active``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.progress: list[dict[str, Any]] = []
        self.layers: list[dict[str, float]] = []
        self._listener: _Progress | None = None
        self._seen_stages: set[int] = set()
        self._next_job = 0
        self._next_execution = 0

    # ----------------------------------------------------------- spans

    def install(self) -> None:
        """Wrap every registered op so its calls become spans."""
        from conveyor_spark import registry

        registry.get_function("parquet.read")  # imports the op modules
        for name, op in list(registry.REGISTRY.items()):
            registry.REGISTRY[name] = dataclasses.replace(op, fn=self._wrap(op))

    def listen_streams(self) -> None:
        self._listener = _Progress(self.progress)
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _wrap(self, op):
        fn = op.fn
        layer = {"source": "sources", "sink": "sinks"}.get(op.kind, "compiler")

        def traced(ctx, inputs, config):
            with self.span(op.name, layer):
                return fn(ctx, inputs, config)

        return traced

    @contextmanager
    def span(self, name: str, layer: str, item: int | None = None):
        parent = self.stack[-1] if self.stack else None
        if item is None:
            item = self.spans[parent].item if parent is not None else -1
        idx = len(self.spans)
        span = Span(item, name, layer, time.time(), parent)
        self.spans.append(span)
        self.stack.append(idx)
        if self.active and layer not in ("item", "config"):
            span.group = f"perfbench-{item}-{idx}"
            self.sc.setJobGroup(span.group, f"{name} (item {item})")
        try:
            yield span
        finally:
            span.end = time.time()
            self.stack.pop()
            if span.group is not None:
                outer = next((self.spans[i].group for i in reversed(self.stack)
                              if self.spans[i].group), None)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def item_spans(self, item: int) -> list[Span]:
        return [s for s in self.spans if s.item == item]

    def sink_seconds(self, item: int) -> list[float]:
        """Wall time of each top-level sink call of an item."""
        return [s.seconds for s in self.item_spans(item)
                if s.layer == "sinks" and s.parent is not None
                and self.spans[s.parent].layer == "item"]

    def batch_seconds(self, since: int) -> list[float]:
        """``triggerExecution`` of each micro-batch reported after
        progress event number ``since``."""
        return [p["duration_ms"].get("triggerExecution", 0) / 1000.0
                for p in self.progress[since:]]

    def activate(self) -> None:
        """Turn tracing on for the next item; ``collect`` turns it off.
        What ran before is not attributed."""
        self.drain_events()
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        if jobs.size():
            self._next_job = jobs.apply(0).jobId() + 1  # newest first
        self._python_totals()
        self.active = True

    def drain_events(self) -> None:
        """Wait until Spark's listener bus delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    # ------------------------------------------------ traced attribution

    def collect(self, item: int, progress_from: int) -> dict[str, float]:
        """Attribute one traced item's jobs, stages, SQL executions and
        micro-batches to its spans; return its per-layer metrics."""
        self.drain_events()
        store = self.sc._jsc.sc().statusStore()
        spans = self.item_spans(item)
        by_group = {s.group: s for s in spans if s.group}
        m: dict[str, float] = {}

        def add(key: str, value: float) -> None:
            m[key] = m.get(key, 0.0) + value

        for job in self._new_jobs(store):
            group = job.jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            if span is None:
                # streaming jobs run in the query's group: place by start time
                sub = job.submissionTime()
                when = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
                inside = [s for s in spans if s.layer not in ("item", "config")
                          and s.start <= when <= s.end]
                span = max(inside, key=lambda s: s.start) if inside else spans[0]
            span.jobs.append(job.jobId())
            for sid in sorted(_seq(job.stageIds())):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                add("executor.run_s", sd.executorRunTime() / 1000.0)
                add("executor.cpu_s", sd.executorCpuTime() / 1e9)
                add("executor.gc_s", sd.jvmGcTime() / 1000.0)
                add("executor.task_failures", sd.numFailedTasks())
                add("sources.input_mb", sd.inputBytes() / MB)
                add("sinks.output_mb", sd.outputBytes() / MB)
                add("shuffle.read_mb", sd.shuffleReadBytes() / MB)
                add("shuffle.write_mb", sd.shuffleWriteBytes() / MB)
                add("spill.mb", sd.diskBytesSpilled() / MB)

        index = {id(s): n for n, s in enumerate(self.spans)}

        def jobs_under(s: Span) -> int:
            me = index[id(s)]
            return len(s.jobs) + sum(jobs_under(c) for c in spans
                                     if c.parent == me)

        item_span = spans[0]
        top = [s for s in spans if s.parent == index[id(item_span)]]
        for s in top:
            if s.layer == "config":
                add("config.parse_s", s.seconds)
                continue
            jobs = jobs_under(s)
            if s.layer == "sinks":
                add("sinks.action_s", s.seconds)
                add("sinks.action_jobs", jobs)
            else:
                add("compiler.build_s", s.seconds)
                add("compiler.build_jobs", jobs)
            if s.layer == "sources":
                add("sources.read_s", s.seconds)
                add("sources.read_jobs", jobs)
            if s.name in DATAPIPE_FUNCTIONS:
                add(f"datapipe.{s.name}.s", s.seconds)
                add(f"datapipe.{s.name}.jobs", jobs)
        add("compiler.self_s", item_span.seconds - sum(s.seconds for s in top))
        add("compiler.persists_left", self.sc._jsc.getPersistentRDDs().size())
        for key, value in self._python_totals().items():
            add(key, value)
        batches = self.progress[progress_from:]
        add("streaming.batches", len(batches))
        for key, phase in (("streaming.trigger_ms", "triggerExecution"),
                           ("streaming.add_batch_ms", "addBatch"),
                           ("streaming.query_planning_ms", "queryPlanning"),
                           ("streaming.wal_commit_ms", "walCommit")):
            add(key, sum(b["duration_ms"].get(phase, 0) for b in batches))
        if batches:
            add("streaming.state_rows", batches[-1]["state_rows"])
            add("streaming.state_mb", batches[-1]["state_bytes"] / MB)
        self.layers.append(m)
        self.active = False
        return m

    def _new_jobs(self, store) -> list:
        """Status-store records of the jobs started since the last call
        (job ids are consecutive)."""
        jobs, jid, misses = [], self._next_job, 0
        while misses < 8:
            try:
                jobs.append(store.job(jid))
                misses = 0
                self._next_job = jid + 1
            except Py4JJavaError:  # no such job (yet)
                misses += 1
            jid += 1
        return jobs

    def _python_totals(self) -> dict[str, float]:
        """Sum the Python-node metrics of the SQL executions that ran
        since the last call."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        totals: dict[str, float] = {}
        eid, misses = self._next_execution, 0
        while misses < 8:
            found = sql.execution(eid)
            if not found.isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            self._next_execution = eid + 1
            values = None
            for node in _seq(sql.planGraph(eid).allNodes()):
                for metric in _seq(node.metrics()):
                    key = PY_METRICS.get(metric.name())
                    if key is None:
                        continue
                    if values is None:
                        values = {t._1(): t._2()
                                  for t in _seq(sql.executionMetrics(eid))}
                    text = values.get(metric.accumulatorId())
                    if text:
                        totals[key] = totals.get(key, 0.0) + parse_metric(text)
            eid += 1
        return totals

    # --------------------------------------------------------- summary

    def summary(self) -> dict[str, float]:
        """Median over traced items of each per-layer metric."""
        keys = sorted({k for m in self.layers for k in m})
        return {k: statistics.median(m.get(k, 0.0) for m in self.layers) for k in keys}

    def dump(self, path: str) -> None:
        """Write every span, with its self time, and the per-item layers."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.seconds
        rows = [dict(dataclasses.asdict(s), seconds=s.seconds,
                     self_seconds=s.seconds - children.get(n, 0.0))
                for n, s in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump({"spans": rows, "items": self.layers,
                       "batches": self.progress}, fh)
