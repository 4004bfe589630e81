"""In-memory span recorder for the traced benchmark run.

Spans are opened only by the benchmark's own code: either directly by a
workload, or by wrappers that :func:`instrument` installs around the
public functions of each engine layer. Nothing inside the engine is
edited. Each span has a name, start, end, parent, request id and thread;
spans that can launch Spark jobs carry a Spark job tag, so the jobs,
stages, tasks and shuffle bytes of every job can be charged to the
innermost span that launched it once the run is over.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = (
        "id", "name", "start", "end", "parent", "req", "depth", "tag",
        "child_s", "extra",
    )

    def __init__(self, sid, name, parent, req, depth, tag):
        self.id = sid
        self.name = name
        self.start = time.perf_counter()
        self.end = None
        self.parent = parent
        self.req = req
        self.depth = depth
        self.tag = tag
        self.child_s = 0.0  # time covered by direct children
        self.extra: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "req": self.req,
            **self.extra,
        }


class Tracer:
    """Records spans; a disabled tracer costs one attribute check."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------
    def set_request(self, req) -> None:
        """Request id for the spans this thread opens without a parent."""
        self._local.req = req

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, jobs: bool = False) -> Span | None:
        """Start a span in this thread; ``jobs`` tags the Spark jobs the
        thread launches until :meth:`close`."""
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        sp = Span(
            sid, name, parent.id if parent else None,
            parent.req if parent else getattr(self._local, "req", None),
            len(st), f"perfbench-{sid}" if jobs and self.sc is not None else None,
        )
        if sp.tag:
            self.sc.addJobTag(sp.tag)
        st.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        st = self._stack()
        st.remove(sp)
        if sp.tag:
            self.sc.removeJobTag(sp.tag)
        if st:
            st[-1].child_s += sp.dur
        with self._lock:
            self.spans.append(sp)

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        sp = self.open(name, jobs)
        try:
            yield sp
        finally:
            self.close(sp)

    def record(self, name: str, dur_s: float, **extra) -> None:
        """A leaf span whose time was accumulated in pieces (row fetches,
        per-row serialization) rather than measured in one interval."""
        if not self.enabled:
            return
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(
            next(self._ids), name, parent.id if parent else None,
            parent.req if parent else getattr(self._local, "req", None),
            len(st), None,
        )
        sp.end = sp.start
        sp.start -= dur_s
        sp.extra.update(extra)
        if parent is not None:
            parent.child_s += dur_s
        with self._lock:
            self.spans.append(sp)

    def wrap(self, name: str, fn, jobs: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs):
                return fn(*args, **kwargs)

        return traced

    # -- Spark counters ------------------------------------------------------
    def resolve_counters(self) -> None:
        """Charge every tagged job to the innermost span that carried its
        tag: ``extra`` gains jobs, stages, tasks, shuffle write bytes
        (``shuffle_bytes``) and shuffle read bytes. Skipped stages (shuffle
        output reused) are not counted."""
        if self.sc is None:
            return
        from py4j.protocol import Py4JError

        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(30_000)
        except Py4JError:  # still busy after 30 s: counters may lag
            time.sleep(1.0)
        tracker, store = jsc.statusTracker(), jsc.statusStore()
        owner: dict[int, Span] = {}
        for sp in self.spans:
            if sp.tag is None:
                continue
            for job in tracker.getJobIdsForTag(sp.tag):
                if job not in owner or owner[job].depth < sp.depth:
                    owner[job] = sp
        for sp in self.spans:
            if sp.tag is not None:
                sp.extra.update(
                    jobs=0, stages=0, tasks=0, shuffle_bytes=0,
                    shuffle_read_bytes=0,
                )
        for job, sp in owner.items():
            info = tracker.getJobInfo(job)
            if not info.isDefined():
                continue
            sp.extra["jobs"] += 1
            for stage in info.get().stageIds():
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JError:  # evicted from the status store
                    continue
                if str(data.status()) == "SKIPPED":
                    continue
                sp.extra["stages"] += 1
                sp.extra["tasks"] += data.numTasks()
                sp.extra["shuffle_bytes"] += data.shuffleWriteBytes()
                sp.extra["shuffle_read_bytes"] += data.shuffleReadBytes()


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of every engine layer in spans.

    Call once, before the engine serves a request. Wrappers are installed
    on the module or class attribute each caller looks the function up
    through, so the engine's own call paths run through them."""
    from http.server import BaseHTTPRequestHandler

    from dublin_smart_city_graphdb_spark import engine
    from dublin_smart_city_graphdb_spark.graph import closure
    from dublin_smart_city_graphdb_spark.harness import sparql_gate
    from dublin_smart_city_graphdb_spark.inference import dred, rdfsplus
    from dublin_smart_city_graphdb_spark.sources import store
    from dublin_smart_city_graphdb_spark.sparql import (
        compiler,
        parser,
        protocol,
        update,
    )

    t = tracer
    # request id: the benchmark client sends it as a header; the server
    # thread learns it when the request line and headers are parsed
    parse_request = BaseHTTPRequestHandler.parse_request

    def traced_parse_request(self):
        ok = parse_request(self)
        t.set_request(self.headers.get("X-Perfbench-Request") if ok else None)
        return ok

    BaseHTTPRequestHandler.parse_request = traced_parse_request

    engine.parse_query = t.wrap("sparql.parser", engine.parse_query)
    sparql_gate.parse_query = t.wrap("sparql.parser", sparql_gate.parse_query)
    parser.parse_update = t.wrap("sparql.parser", parser.parse_update)
    turtle_to_rows = engine.turtle_to_rows

    def traced_turtle_to_rows(*args, **kwargs):
        with t.span("sources.turtle") as sp:
            rows = turtle_to_rows(*args, **kwargs)
            if sp is not None:
                sp.extra["rows"] = len(rows)
            return rows

    engine.turtle_to_rows = traced_turtle_to_rows
    compiler.QueryCompiler.compile = t.wrap(
        "sparql.compiler", compiler.QueryCompiler.compile, jobs=True
    )
    rdfsplus.materialize = t.wrap(
        "inference.rdfsplus.materialize", rdfsplus.materialize, jobs=True
    )
    rdfsplus.materialize_incremental = t.wrap(
        "inference.rdfsplus.incremental", rdfsplus.materialize_incremental,
        jobs=True,
    )
    dred.retract = t.wrap("inference.dred.retract", dred.retract, jobs=True)
    update.UpdateExecutor.apply = t.wrap(
        "sparql.update.apply", update.UpdateExecutor.apply, jobs=True
    )
    store.QuadStore.write = t.wrap(
        "sources.store.write", store.QuadStore.write, jobs=True
    )
    closure.transitive_closure = t.wrap(
        "graph.closure", closure.transitive_closure, jobs=True
    )

    # plan cache: a Repository.sparql call that compiled nothing was a hit
    sparql = engine.Repository.sparql

    def traced_sparql(self, *args, **kwargs):
        with t.span("engine.plan_cache", jobs=True) as sp:
            before = len(t.spans)
            df = sparql(self, *args, **kwargs)
            if sp is not None:
                sp.extra["hit"] = not any(
                    s.name == "sparql.compiler" for s in t.spans[before:]
                    if s.parent == sp.id
                )
            return df

    engine.Repository.sparql = traced_sparql

    # engine root span of each HTTP request; the generator a SELECT
    # returns is consumed by the handler, so the span stays open until
    # the last chunk is out
    for meth in ("load_turtle_text", "update"):
        setattr(
            engine.Repository, meth,
            t.wrap("engine.call", getattr(engine.Repository, meth), jobs=True),
        )
    chunks = engine.Repository.sparql_result_chunks

    def traced_chunks(self, *args, **kwargs):
        sp = t.open("engine.call", jobs=True)
        try:
            it = chunks(self, *args, **kwargs)
        except BaseException:
            t.close(sp)
            raise
        if it is None:
            t.close(sp)
            return None

        def gen():
            try:
                yield from it
            finally:
                t.close(sp)

        return gen()

    engine.Repository.sparql_result_chunks = traced_chunks

    # result serialization: plan the query (Catalyst) before the first row
    # is fetched, then split the row loop into fetch (execution) and
    # results-JSON encoding
    select_chunks = protocol.select_result_chunks

    def traced_select_chunks(df, batch_rows: int = 1024):
        with t.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        fetch = _FetchTimed(df)
        it = select_chunks(fetch, batch_rows=batch_rows)
        if it is None:
            return None

        def gen():
            busy = 0.0
            while True:
                a = time.perf_counter()
                chunk = next(it, None)
                busy += time.perf_counter() - a
                if chunk is None:
                    break
                yield chunk
            t.record("spark.exec", fetch.seconds)
            t.record(
                "sparql.protocol.serialize", busy - fetch.seconds,
                rows=fetch.rows,
            )

        return gen()

    protocol.select_result_chunks = traced_select_chunks


class _FetchTimed:
    """DataFrame stand-in whose ``toLocalIterator`` times each row fetch."""

    def __init__(self, df):
        self._df, self.columns = df, df.columns
        self.seconds, self.rows = 0.0, 0

    def toLocalIterator(self):
        a = time.perf_counter()
        it = iter(self._df.toLocalIterator())  # starts the first job
        self.seconds += time.perf_counter() - a
        while True:
            a = time.perf_counter()
            row = next(it, None)
            self.seconds += time.perf_counter() - a
            if row is None:
                return
            self.rows += 1
            yield row
