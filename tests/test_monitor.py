"""Query monitoring + abort (VERDICT r4 task 4): the GraphDB running-
queries REST surface — list running queries with elapsed time, abort by
track id — over the existing job-group machinery."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import pytest

from dublin_smart_city_graphdb_spark.engine import Engine, QueryAbortedError

SLOW = """
    SELECT (COUNT(*) AS ?n) WHERE {
      ?a ?p1 ?b . ?c ?p2 ?d . ?e ?p3 ?f . ?g ?p4 ?h .
    }
"""


def _drain(spark):
    """Wait until the cancelled query's zombie tasks release their slots.
    Cancellation is cooperative (task-killed flag at record boundaries, no
    Thread.interrupt — see Engine.abort_query): a codegen'd cartesian loop
    can occupy all local cores for tens of seconds after the abort, which
    would starve the NEXT test's first Spark job. The status store
    decrements activeTasks when the kill is REQUESTED, not when the task
    thread exits, so the only reliable barrier is a canary job wide
    enough to need every slot: when it completes, the scheduler has
    actually reclaimed the cores."""
    cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(cores * 2), cores * 2).count()


@pytest.fixture()
def slow_repo(spark):
    eng = Engine(spark)
    repo = eng.create_repository("monitor_repo", ruleset="none")
    repo.load_turtle(
        "@prefix ex: <http://t#> .\n"
        + "\n".join(f"ex:s{i} ex:p{i % 7} ex:o{i} ." for i in range(300))
    )
    yield eng, repo
    spark.sparkContext.cancelAllJobs()
    _drain(spark)
    eng.drop_repository("monitor_repo")


def _start_slow(repo, errors):
    def run():
        try:
            repo.sparql_collect(SLOW, timeout=120)
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t


def _wait_for_running(eng, deadline=15.0, errors=()):
    t0 = time.time()
    while time.time() - t0 < deadline:
        if errors:
            raise AssertionError(f"slow query died early: {errors[0]!r}")
        running = eng.running_queries()
        if running:
            return running
        time.sleep(0.05)
    raise AssertionError("slow query never appeared in the monitor")


def test_engine_list_and_abort(slow_repo):
    eng, repo = slow_repo
    errors: list = []
    t = _start_slow(repo, errors)
    running = _wait_for_running(eng, errors=errors)
    assert len(running) == 1
    q = running[0]
    assert q["repository"] == "monitor_repo"
    assert "COUNT(*)" in q["query"]
    assert q["elapsed_s"] >= 0
    t0 = time.time()
    assert eng.abort_query(q["id"]) is True
    t.join(timeout=30)
    assert not t.is_alive() and time.time() - t0 < 30
    assert isinstance(errors[0], QueryAbortedError)
    assert eng.running_queries() == []
    # unknown / finished ids are a clean False
    assert eng.abort_query(q["id"]) is False
    assert eng.abort_query("nope") is False


def test_rest_monitor_lifecycle(slow_repo):
    from dublin_smart_city_graphdb_spark.protocol_http import SparqlHttpServer

    eng, repo = slow_repo
    srv = SparqlHttpServer(eng).start()
    try:
        base = f"http://{srv.host}:{srv.port}"
        errors: list = []
        t = _start_slow(repo, errors)
        _wait_for_running(eng, errors=errors)
        with urllib.request.urlopen(f"{base}/rest/monitor/query") as r:
            listing = json.loads(r.read())
        assert len(listing) == 1 and listing[0]["repository"] == "monitor_repo"
        tid = listing[0]["id"]
        req = urllib.request.Request(
            f"{base}/rest/monitor/query/{tid}", method="DELETE"
        )
        with urllib.request.urlopen(req) as r:
            assert json.loads(r.read()) == {"aborted": tid}
        t.join(timeout=30)
        assert not t.is_alive()
        assert isinstance(errors[0], QueryAbortedError)
        with urllib.request.urlopen(f"{base}/rest/monitor/query") as r:
            assert json.loads(r.read()) == []
        # double-abort → 404
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(
                urllib.request.Request(
                    f"{base}/rest/monitor/query/{tid}", method="DELETE"
                )
            )
        assert exc.value.code == 404
    finally:
        srv.stop()


def test_state_and_abort_all(slow_repo):
    """Round-6 parity polish: per-entry lifecycle state (IN_QUERY vs
    IN_COMMIT) and abort-all."""
    eng, repo = slow_repo
    # reads report IN_QUERY; abort-all kills every abortable entry
    errors: list = []
    t1 = _start_slow(repo, errors)
    t2 = _start_slow(repo, errors)
    t0 = time.time()
    # generous deadline: under full-suite load the two compile threads
    # contend for the Py4J gateway and can take >15 s to register
    while len(eng.running_queries()) < 2 and time.time() - t0 < 90:
        if errors:
            raise AssertionError(f"slow query died early: {errors[0]!r}")
        time.sleep(0.05)
    running = eng.running_queries()
    assert len(running) == 2
    assert all(q["state"] == "IN_QUERY" for q in running)
    aborted = eng.abort_all_queries()
    assert sorted(aborted) == sorted(q["id"] for q in running)
    t1.join(timeout=120)
    t2.join(timeout=120)
    assert not t1.is_alive() and not t2.is_alive()
    assert len(errors) == 2
    assert all(isinstance(e, QueryAbortedError) for e in errors)
    assert eng.running_queries() == []
    # nothing left to abort
    assert eng.abort_all_queries() == []


def test_commit_reports_in_commit_state(slow_repo):
    """An update's visibility switch shows up as IN_COMMIT and is not
    abortable (the overwrite/checkpoint is the atomicity point)."""
    eng, repo = slow_repo
    seen: list = []

    def watch():
        t0 = time.time()
        while time.time() - t0 < 30:
            for q in eng.running_queries():
                if q["state"] == "IN_COMMIT":
                    seen.append(dict(q))
                    # abort during commit must refuse
                    seen.append(eng.abort_query(q["id"]))
                    return
            time.sleep(0.005)

    w = threading.Thread(target=watch, daemon=True)
    w.start()
    repo.update(
        'INSERT DATA { <http://t#new> <http://t#p> "v" }'
    )
    w.join(timeout=35)
    assert seen, "IN_COMMIT entry never appeared in the monitor"
    assert seen[0]["state"] == "IN_COMMIT"
    assert seen[0]["repository"] == "monitor_repo"
    assert seen[1] is False
    # monitor drains after the commit lands
    assert eng.running_queries() == []


# -- the HTTP endpoint runs under the query timeout and the monitor ----------

def test_http_select_times_out_and_is_listed(slow_repo):
    """The default JSON SELECT path of the HTTP endpoint runs under the
    repository's query timeout (its job group is cancelled at the
    deadline, answered 503) and is listed by the monitor while it runs."""
    from dublin_smart_city_graphdb_spark.protocol_http import SparqlHttpServer

    eng, repo = slow_repo
    repo.config["query_timeout"] = 2
    srv = SparqlHttpServer(eng).start()
    base = f"http://{srv.host}:{srv.port}"
    out: dict = {}

    def run():
        t0 = time.time()
        url = f"{base}/repositories/monitor_repo?query=" + (
            urllib.parse.quote(SLOW)
        )
        try:
            with urllib.request.urlopen(url) as r:
                out["status"] = r.status
        except urllib.error.HTTPError as ex:
            out["status"], out["body"] = ex.code, json.loads(ex.read())
        out["elapsed"] = time.time() - t0

    try:
        t = threading.Thread(target=run, daemon=True)
        t.start()
        _wait_for_running(eng)
        with urllib.request.urlopen(f"{base}/rest/monitor/query") as r:
            listing = json.loads(r.read())
        assert len(listing) == 1 and "COUNT(*)" in listing[0]["query"]
        t.join(timeout=60)
        assert not t.is_alive()
        assert out["status"] == 503, out
        assert "timeout" in out["body"]["error"]
        assert out["elapsed"] < 20, out
        assert eng.running_queries() == []
    finally:
        srv.stop()


_READS = {
    "collect": lambda repo: repo.sparql_collect(
        "SELECT ?s WHERE { ?s <http://t#p1> ?o }"
    ),
    "stream": lambda repo: list(repo.sparql_result_chunks(
        "SELECT ?s WHERE { ?s <http://t#p1> ?o }"
    )),
    "graph": lambda repo: list(repo.graph_result_chunks(
        "CONSTRUCT WHERE { ?s <http://t#p1> ?o }", "application/n-triples"
    )[0]),
    "jsonld": lambda repo: repo.sparql_serialized(
        "CONSTRUCT WHERE { ?s <http://t#p1> ?o }",
        accept="application/ld+json",
    ),
}


@pytest.mark.parametrize("path", sorted(_READS))
def test_compile_counts_against_the_timeout(slow_repo, monkeypatch, path):
    """Parse and compile run inside the deadline: a compile slower than
    the timeout raises TimeoutError on every read path."""
    from dublin_smart_city_graphdb_spark.sparql.compiler import QueryCompiler

    eng, repo = slow_repo
    repo.sparql_collect("SELECT ?o WHERE { ?s <http://t#p2> ?o }")  # warm
    repo.config["query_timeout"] = 1
    compile_ = QueryCompiler.compile

    def slow_compile(self, query):
        time.sleep(1.5)
        return compile_(self, query)

    monkeypatch.setattr(QueryCompiler, "compile", slow_compile)
    with pytest.raises(TimeoutError):
        _READS[path](repo)
    assert eng.running_queries() == []


def test_jobs_a_compile_starts_past_the_deadline_are_cancelled(
    slow_repo, monkeypatch
):
    """A compile still running at the deadline starts no further work:
    the Spark job it submits afterwards fails at once instead of running
    to completion, and the caller gets TimeoutError."""
    from dublin_smart_city_graphdb_spark.sparql.compiler import QueryCompiler

    eng, repo = slow_repo
    repo.sparql_collect("SELECT ?o WHERE { ?s <http://t#p2> ?o }")  # warm
    repo.config["query_timeout"] = 1
    sc = repo.spark.sparkContext
    compile_ = QueryCompiler.compile

    def compile_with_late_job(self, query):
        time.sleep(1.5)
        sc.parallelize([0], 1).map(
            lambda x: __import__("time").sleep(60)
        ).count()
        return compile_(self, query)

    monkeypatch.setattr(QueryCompiler, "compile", compile_with_late_job)
    t0 = time.time()
    with pytest.raises(TimeoutError):
        repo.sparql_collect("SELECT ?s WHERE { ?s <http://t#p1> ?o }")
    assert time.time() - t0 < 30
    assert eng.running_queries() == []


def test_guarded_read_keeps_the_callers_job_group(slow_repo):
    """A read runs in the caller's thread under its own job group and
    gives the caller's group back afterwards; an empty graph answer is
    an empty body."""
    eng, repo = slow_repo
    sc = repo.spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try:
        chunks, _ = repo.graph_result_chunks(
            "CONSTRUCT WHERE { ?s <http://t#nope> ?o }",
            "application/n-triples",
        )
        assert list(chunks) == []
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setJobGroup(None, None)
    assert eng.running_queries() == []


def test_status_tracker_counts_large_job_groups(spark):
    """The status tracker must see every job of a large group: a cap on
    retained jobs below the group's size silently under-counts it."""
    sc = spark.sparkContext
    group = "test-retained-jobs"
    sc.setJobGroup(group, group)
    try:
        for _ in range(150):
            sc.parallelize([1], 1).count()
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 150
