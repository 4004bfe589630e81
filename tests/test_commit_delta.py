"""Ground-data commits (INSERT DATA / DELETE DATA and text loads): the
delta is matched by one canonical key over the six identity columns, so
a commit's plan-construction cost does not grow with the batch; text
loads are set-valued; in-memory commits keep their partition count.

Equivalence contract as in test_inference_retract: after every commit
the quad set equals a fresh repository loaded with the final explicit
content and fully materialized."""

from __future__ import annotations

import json
import re
from collections import Counter
import urllib.parse
import urllib.request

import pytest
from test_inference_retract import _equiv, _no_full_rebuild

from dublin_smart_city_graphdb_spark import fixtures
from dublin_smart_city_graphdb_spark.engine import Engine
from dublin_smart_city_graphdb_spark.protocol_http import SparqlHttpServer

EX = "http://delta#"
PFX = (
    f"PREFIX ex: <{EX}> "
    "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#> "
    "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
)
ONT = f"""
@prefix ex: <{EX}> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:p rdfs:subPropertyOf ex:q .
ex:p rdfs:domain ex:C .
"""


def _all_quads(repo) -> Counter:
    """Every stored quad's identity with its multiplicity."""
    return Counter(
        tuple(r)
        for r in repo.quads.select(
            "g", "s", "p", "o_kind", "o_lex", "o_dtype", "o_lang"
        ).collect()
    )


# -- set semantics of text loads over HTTP ------------------------------------

def _count(base, repo):
    q = urllib.parse.quote("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
    req = urllib.request.Request(
        f"{base}/repositories/{repo}?query={q}",
        headers={"Accept": "application/sparql-results+json"},
    )
    with urllib.request.urlopen(req) as r:
        doc = json.loads(r.read())
    return int(doc["results"]["bindings"][0]["n"]["value"])


def _post(url, data: bytes, ctype: str) -> int:
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": ctype}
    )
    with urllib.request.urlopen(req) as r:
        return r.status


@pytest.mark.parametrize("ruleset", ["none", "rdfsplus"])
@pytest.mark.parametrize("store", ["memory", "warehouse"])
def test_repost_is_set_valued(spark, tmp_path, store, ruleset):
    """POST /statements is set-valued (RDF4J): re-POSTing a document, or
    repeating a statement inside one, leaves the statement count as is."""
    eng = Engine(
        spark, warehouse=str(tmp_path) if store == "warehouse" else None
    )
    srv = SparqlHttpServer(eng).start()
    try:
        base = f"http://{srv.host}:{srv.port}"
        name = f"setval_{store}_{ruleset}"
        cfg = {"id": name, "params": {"ruleset": {"value": ruleset}}}
        assert _post(
            f"{base}/rest/repositories", json.dumps(cfg).encode(),
            "application/json",
        ) == 201
        doc = (
            f"@prefix ex: <{EX}> .\n"
            'ex:a ex:name "A" .\nex:a ex:knows ex:b .\nex:a ex:name "A" .\n'
        ).encode()
        url = f"{base}/repositories/{name}/statements"
        assert _post(url, doc, "text/turtle") == 204
        assert _count(base, name) == 2
        assert _post(url, doc, "text/turtle") == 204
        assert _count(base, name) == 2
        extra = f'@prefix ex: <{EX}> .\nex:a ex:name "A" , "B" .\n'
        assert _post(url, extra.encode(), "text/turtle") == 204
        assert _count(base, name) == 3
    finally:
        srv.stop()


# -- partition count of in-memory repositories --------------------------------

def _facilities(k: int, tag: str) -> tuple[str, str]:
    """(Turtle, SPARQL DELETE DATA) of ``k`` fixture facilities renamed
    apart from the loaded ones."""
    ttl = fixtures.facilities_ttl(k, seed=k)
    body = ttl.replace("ex:facility_", f"ex:{tag}_facility_").replace(
        "ex:geom_", f"ex:{tag}_geom_"
    )
    prologue, _, triples = body.partition("\n\n")
    prefixes = re.sub(r"@prefix (.*) \.", r"PREFIX \1", prologue)
    return body, prefixes + "\nDELETE DATA {\n" + triples + "}"


def test_memory_commits_keep_partition_count(spark):
    eng = Engine(spark)
    repo = eng.create_repository("parts_mem", ruleset="rdfsplus")
    repo.load_turtle_text(fixtures.full_fixture_ttl(30, seed=5))
    loaded = repo.quads.rdd.getNumPartitions()
    before = _all_quads(repo)
    for k in range(4):
        ttl, delete = _facilities(3, f"cycle{k}")
        repo.load_turtle_text(ttl)
        repo.update(delete)
    assert repo.quads.rdd.getNumPartitions() <= loaded
    assert _all_quads(repo) == before


# -- Δ-key correctness ---------------------------------------------------------

# object terms whose identity columns stress the key: NULL dtype/lang,
# language tags, typed literals, lexical forms with quotes, backslash,
# newline, U+0001 and a non-BMP character, blank nodes
_OBJECTS = [
    '"plain"',
    '"hallo"@de',
    '"hallo"@en',
    '"5"^^xsd:integer',
    '"5"',
    '"null"',
    "\"it's \\\"q\\\" back\\\\slash line\\nbreak \\u0001 \U0001F600\"",
    "_:obj",
    "ex:node",
]


def _rows(n: int, subj: str) -> list[str]:
    return [
        f"ex:{subj}{i} ex:p {_OBJECTS[i % len(_OBJECTS)]} ."
        for i in range(n)
    ]


@pytest.mark.parametrize("n", [18, 300])
def test_delta_key_matches_full_materialization(spark, monkeypatch, n):
    """INSERT DATA / DELETE DATA batches below and above 256 rows whose
    rows carry every identity-column shape keep the closure equal to a
    full re-materialization, through the key-probe path."""
    eng = Engine(spark)
    repo = eng.create_repository(f"dkey_{n}", ruleset="rdfsplus")
    repo.load_turtle(
        ONT
        + "\n".join(_rows(n, "t"))
        + "\nex:a ex:p ex:b .\n"
    )
    _no_full_rebuild(monkeypatch, repo)
    const = []
    probe = repo._constant_delta
    monkeypatch.setattr(
        repo, "_constant_delta",
        lambda *a, **k: const.append(probe(*a, **k)) or const[-1],
    )

    # insert: fresh rows, plus explicit copies of INFERRED triples
    # (t_i ex:q o) that must leave the inferred set
    fresh = _rows(n, "s")
    promoted = [r.replace(" ex:p ", " ex:q ") for r in _rows(n, "t")]
    repo.update(
        PFX + "INSERT DATA {\n" + "\n".join(fresh + promoted)
        + f"\nGRAPH <{EX}g1> {{ ex:a ex:p ex:b }}"
        + f"\nGRAPH <{EX}g2> {{ ex:a ex:p ex:b }}\n}}"
    )
    _equiv(spark, eng, repo, f"dkey_{n}_eq1")

    # delete: the fresh rows and the t_i ex:p support of the promoted
    # rows (which stay, explicit); a ex:p b leaves the default graph and
    # g1 but is still held by g2 — not a deletion for the closure
    repo.update(
        PFX + "DELETE DATA {\n" + "\n".join(fresh + _rows(n, "t"))
        + "\nex:a ex:p ex:b ."
        + f"\nGRAPH <{EX}g1> {{ ex:a ex:p ex:b }}\n}}"
    )
    _equiv(spark, eng, repo, f"dkey_{n}_eq2")
    assert all(c is not None for c in const)
    assert repo.sparql_collect(
        PFX + f"ASK {{ GRAPH <{EX}g2> {{ ex:a ex:p ex:b }} }}"
    )[0]["ask"]
    assert repo.sparql_collect(PFX + "ASK { ex:a ex:q ex:b }")[0]["ask"]
    assert not repo.sparql_collect(PFX + "ASK { ex:s0 ?p ?o }")[0]["ask"]
    assert max(_all_quads(repo).values()) == 1


# -- plan-construction cost does not grow with Δ -------------------------------

def test_delete_cost_does_not_grow_with_delta(spark, tmp_path, monkeypatch):
    """DELETE DATA of 10 and of 40 facilities: the same number of Spark
    jobs and (within a small constant) Py4J round trips, and one schema
    extraction per delete."""
    import py4j.clientserver as cs

    from dublin_smart_city_graphdb_spark.inference import rdfsplus

    calls = {"py4j": 0, "schema": 0}
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls["py4j"] += 1
        return send(self, command)

    ctx = rdfsplus._schema_ctx

    def schema_ctx(facts):
        calls["schema"] += 1
        return ctx(facts)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    monkeypatch.setattr(rdfsplus, "_schema_ctx", schema_ctx)
    eng = Engine(spark, warehouse=str(tmp_path))
    repo = eng.create_repository("cost", ruleset="rdfsplus")
    repo.load_turtle_text(fixtures.full_fixture_ttl(100, seed=9))
    loaded = repo.count()
    sc = spark.sparkContext
    cost = {}
    for k in (10, 40):
        ttl, delete = _facilities(k, f"cost{k}")
        repo.load_turtle_text(ttl)
        group = f"test-delete-cost-{k}"
        sc.setJobGroup(group, group)
        before = dict(calls)
        try:
            repo.update(delete)
        finally:
            sc.setJobGroup(None, None)
        cost[k] = {
            "py4j": calls["py4j"] - before["py4j"],
            "schema": calls["schema"] - before["schema"],
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        }
        assert repo.count() == loaded
    assert cost[10]["schema"] == cost[40]["schema"] == 1, cost
    assert abs(cost[40]["jobs"] - cost[10]["jobs"]) <= 1, cost
    assert abs(cost[40]["py4j"] - cost[10]["py4j"]) <= 200, cost
