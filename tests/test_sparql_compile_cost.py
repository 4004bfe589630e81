"""Compile cost of the benchmark's SPARQL reads, in Py4J round trips.

Scan-side term structs, constant filters and star aggregates are built as
SQL text (sparql/termcol.py), so compiling a read costs a few hundred
gateway round trips instead of one per Column-API node. The counts are
deterministic (no timing): every ``send_command`` of the Py4J client
inside ``QueryCompiler.compile`` is one round trip.

Also here: a negative numeric constant (``?lon > -6.30``, parsed as
``UnaryMinus(6.30)``) takes the same bare ``o_num`` comparison as a
positive one, so the bounds also filter the scan before the star
shuffle.
"""

from __future__ import annotations

import gc
import re
import threading

import pytest

from dublin_smart_city_graphdb_spark import fixtures
from dublin_smart_city_graphdb_spark.engine import Engine
from dublin_smart_city_graphdb_spark.sparql.compiler import QueryCompiler
from dublin_smart_city_graphdb_spark.sparql.parser import parse_query
from perfbench.sparql_load import (
    EX,
    PROLOG,
    REPEAT_PARAMS,
    TEMPLATES,
    ParamSource,
    query_text,
)

# Bounds per compile. Building every struct node through the Column API
# cost 1,100-1,460 round trips per simple template and 5,200+ for bbox on
# this fixture (13,100 summed over the seven non-geo templates; 14,300 on
# the benchmark's 2,000-facility store). With term structs as SQL text
# and PySpark's per-call origin capture off (session.get_spark) the seven
# sum to 585; the sum bound is that plus 25 %. sf_within cost 2,575 with
# its always-on DE-9IM escape and six kernel copies per FILTER; without
# them it is bounded on its own.
MAX_PER_TEMPLATE = 600
MAX_NON_GEO_SUM = 731
MAX_SF_WITHIN = 600


@pytest.fixture(scope="module")
def dublin(spark, tmp_path_factory):
    eng = Engine(spark, warehouse=str(tmp_path_factory.mktemp("cost")))
    repo = eng.create_repository("dublin", ruleset="rdfsplus")
    repo.load_turtle_text(fixtures.full_fixture_ttl(400, seed=11))
    repo.predicate_stats()
    yield eng, repo
    eng.drop_repository("dublin")


def _round_trips(monkeypatch, eng, repo, text: str) -> int:
    import py4j.clientserver as cs

    n = [0]
    send = cs.ClientServerConnection.send_command
    me = threading.current_thread()

    def counting(self, command):
        # only the compiling thread: the gateway's object releases from
        # other threads are not this compile's work
        if threading.current_thread() is me:
            n[0] += 1
        return send(self, command)

    ast = parse_query(text)
    compiler = QueryCompiler(
        repo.spark, repo.quads, predicate_stats=repo.predicate_stats(),
        wkt_escape_free=repo.wkt_escape_free(),
        extensions=eng.functions, star_views=repo.star_views(),
    )
    # a collection pass mid-compile would add the gateway's object
    # releases of unrelated garbage to the count
    gc.collect()
    gc.disable()
    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    try:
        compiler.compile(ast)
    finally:
        monkeypatch.setattr(cs.ClientServerConnection, "send_command", send)
        gc.enable()
    return n[0]


def test_compile_round_trips(dublin, monkeypatch):
    eng, repo = dublin
    source = ParamSource(11)
    texts = {t: [query_text(t, REPEAT_PARAMS[t])] for t in TEMPLATES}
    for _ in range(2 * len(TEMPLATES)):
        template, _, text = source.next()
        texts[template].append(text)
    cost = {
        t: max(_round_trips(monkeypatch, eng, repo, x) for x in texts[t])
        for t in TEMPLATES
    }
    print("compile round trips:", cost)
    non_geo = {t: n for t, n in cost.items() if t != "sf_within"}
    assert max(non_geo.values()) <= MAX_PER_TEMPLATE, cost
    assert sum(non_geo.values()) <= MAX_NON_GEO_SUM, cost
    assert cost["sf_within"] <= MAX_SF_WITHIN, cost


def test_origin_capture_is_off(spark, monkeypatch):
    """``F.col("a") + 1`` is four round trips (class and method lookup
    and the call for ``col``, one for ``plus``); with PySpark's origin
    capture on it was 24."""
    import py4j.clientserver as cs
    import pyspark.sql.functions as F

    F.col("a") + 1  # first call: gateway class lookups get cached
    n = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        n[0] += 1
        return send(self, command)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    try:
        F.col("a") + 1
    finally:
        monkeypatch.setattr(cs.ClientServerConnection, "send_command", send)
        gc.enable()
    assert n[0] <= 4, n[0]


def _plan_filters(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "Filter" in ln]


def test_negative_range_constants_take_the_fast_path(dublin):
    """``?lon > -6.30 && ?lon < -6.20``: the rows of a plain Python
    filter over the fixture, and both bounds as bare ``num`` comparisons
    in the executed plan — on the bound term and in the pre-shuffle
    filter over the scan — never the general comparison CASE chain."""
    eng, repo = dublin
    q = PROLOG + (
        "SELECT ?f ?lon WHERE { ?f ex:longitude ?lon ; schema:name ?n . "
        "FILTER(?lon > -6.30 && ?lon < -6.20) }"
    )
    got = sorted(
        (r["f"]["lex"], r["lon"]["lex"]) for r in repo.sparql_collect(q)
    )
    named = {r["s"] for r in repo.quads.filter(
        "p = 'http://schema.org/name'"
    ).select("s").collect()}
    oracle = sorted(
        (r["s"], r["o_lex"])
        for r in repo.quads.filter(f"p = '{EX}longitude'").collect()
        if r["s"] in named and -6.30 < float(r["o_lex"]) < -6.20
    )
    assert got == oracle and got
    filters = _plan_filters(repo.sparql(q))
    assert not any("CASE WHEN" in f for f in filters), filters
    # the group filter over the bound term's num field ...
    term = r"\.num > -6\.3000000000\)+ AND \(_e_l\d+#\d+\.num < -6\.2"
    assert any(re.search(term, f) for f in filters), filters
    # ... and the pre-shuffle filter over the scan's object column
    scan = r"longitude\) OR \(\(o_num#\d+ > -6\.30+\) AND \(o_num#\d+ < -6\.2"
    assert any(re.search(scan, f) for f in filters), filters
