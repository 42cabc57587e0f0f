"""Tracing for the per-layer run (``--trace 1``).

Nothing here changes what the engine does. The harness opens spans
around the engine's public calls, counts py4j commands and driver
round-trips by wrapping the client-side entry points, and reads Spark's
status store once the pass is over, so no status query runs inside a
timed span.

A span is (name, start, end, parent, run id). Spans stay in memory and
are written as JSON lines when the run ends. A span's self time is its
duration minus the union of its children's intervals; the layer of a
span is its name up to the first dot.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: py4j command that releases a Java object when its Python proxy is
#: garbage-collected; when it runs depends on Python's GC, not on the
#: engine, so it is left out of the counts
_RELEASE_PREFIX = "m\nd\n"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    py4j: int = 0
    roundtrips: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.get_ident()
        self.py4j = 0
        self.roundtrips = 0
        self._restore: list = []
        self._depth = threading.local()

    # ---------------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a pool thread's first span hangs under the span the main
        # thread has open, which is the phase that submitted the work
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), 0.0,
                      parent.id if parent else None, self.run_id)
            self.spans.append(sp)
        py4j0, rt0 = self.py4j, self.roundtrips
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            sp.py4j = self.py4j - py4j0
            sp.roundtrips = self.roundtrips - rt0

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.duration - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

    # ------------------------------------------------------------- counters

    def _count_py4j(self) -> None:
        with self._lock:
            self.py4j += 1

    def install(self, spark) -> None:
        """Count py4j commands (minus object releases) and driver
        round-trips: DataFrame.collect/toPandas, RDD.collect and
        SparkSession.createDataFrame, counted once per outermost call."""
        from pyspark import RDD
        from pyspark.sql import DataFrame, SparkSession

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(_RELEASE_PREFIX):
                self._count_py4j()
            return send(command, *args, **kwargs)

        client.send_command = send_command
        self._restore.append(lambda: delattr(client, "send_command"))

        def counted(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                if getattr(self._depth, "n", 0) == 0:
                    with self._lock:
                        self.roundtrips += 1
                with self.uncounted():
                    return fn(*args, **kwargs)

            return wrapper

        for owner, attr in ((DataFrame, "collect"), (DataFrame, "toPandas"),
                            (RDD, "collect"), (SparkSession, "createDataFrame")):
            orig = getattr(owner, attr)
            setattr(owner, attr, counted(orig))
            self._restore.append(lambda o=owner, a=attr, f=orig: setattr(o, a, f))

    @contextmanager
    def uncounted(self):
        """Round-trips made inside are not counted: nested calls, and the
        harness's own action."""
        d = getattr(self._depth, "n", 0)
        self._depth.n = d + 1
        try:
            yield
        finally:
            self._depth.n = d

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()


def patch_attr(tracer: Tracer, owner, attr: str, span_name: str) -> None:
    """Wrap `owner.attr` (a module function) in a span, if it exists."""
    orig = getattr(owner, attr, None)
    if orig is None:
        return

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(owner, attr, wrapper)
    tracer._restore.append(lambda: setattr(owner, attr, orig))


class TimingSink:
    """A sink proxy for ``SyncJob(sink=...)``: every call is forwarded to
    the wrapped sink inside a span, and DDL outcomes are tallied."""

    def __init__(self, inner, tracer: Tracer | None):
        self._inner = inner
        self._tracer = tracer
        self.write_starts: list[float] = []
        #: (statement, error or None) per DDL statement sent
        self.ddl_log: list[tuple[str, str | None]] = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    @contextmanager
    def _span(self, name):
        if self._tracer is None:
            yield
        else:
            with self._tracer.span(name):
                yield

    def write(self, df, table, *args, **kwargs):
        self.write_starts.append(time.time())
        with self._span("sink.write"):
            return self._inner.write(df, table, *args, **kwargs)

    def read(self, table):
        with self._span("sink.read"):
            return self._inner.read(table)

    def execute_ddl(self, statements):
        with self._span("sink.ddl"):
            res = self._inner.execute_ddl(statements)
        failed = dict(res.failed)
        self.ddl_log.extend((sql, failed.get(sql)) for sql in statements)
        return res


# ---------------------------------------------------------------- Spark


@dataclass
class StageTotals:
    jobs: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    output_records: int = 0


def _ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def status_records(spark) -> tuple[list[tuple], list[tuple]]:
    """(jobs, stages) from the status store: jobs as (submitted_ms,
    failed_tasks); stages as (submitted_ms, failed_tasks, run_ms,
    input_bytes, shuffle_write_bytes, output_records). Skipped stages
    carry no submission time and are dropped."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs_seq = store.jobsList(None)
    jobs = []
    for i in range(jobs_seq.size()):
        j = jobs_seq.apply(i)
        t = _ms(j.submissionTime())
        if t is not None:
            jobs.append((t, j.numFailedTasks()))
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    st_seq = store.stageList(None, False, False, empty, sc._jvm.java.util.ArrayList())
    stages = []
    for i in range(st_seq.size()):
        s = st_seq.apply(i)
        t = _ms(s.submissionTime())
        if t is not None:
            stages.append((t, s.numFailedTasks(), s.executorRunTime(), s.inputBytes(),
                           s.shuffleWriteBytes(), s.outputRecords()))
    return jobs, stages


def totals_in(window: tuple[float, float], jobs, stages) -> StageTotals:
    """Jobs and stages submitted inside [start, end] (epoch seconds)."""
    lo, hi = int(window[0] * 1000), int(window[1] * 1000) + 1
    t = StageTotals()
    for ms, _failed in jobs:
        if lo <= ms <= hi:
            t.jobs += 1
    for ms, failed, run_ms, inp, shuf, out in stages:
        if lo <= ms <= hi:
            t.failed_tasks += failed
            t.executor_run_s += run_ms / 1000.0
            t.input_bytes += inp
            t.shuffle_bytes += shuf
            t.output_records += out
    return t
