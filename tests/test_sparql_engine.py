"""SPARQL engine tests: the six golden queries from the reference (SURVEY.md
§5 item 1) checked against a pure-Python oracle computed over the same parsed
triples, plus per-operator algebra tests on a hand-built micro-graph."""

from __future__ import annotations

from collections import Counter

import pytest

from dublin_smart_city_graphdb_spark import fixtures
from dublin_smart_city_graphdb_spark.engine import Engine
from dublin_smart_city_graphdb_spark.model.terms import IRI, Literal
from dublin_smart_city_graphdb_spark.sources.turtle import parse_turtle

EX = fixtures.EX
SCHEMA = fixtures.SCHEMA
N_FACILITIES = 200

PROLOG = f"PREFIX ex: <{EX}>\nPREFIX schema: <{SCHEMA}>\n"


@pytest.fixture(scope="module")
def repo(spark):
    eng = Engine(spark)
    r = eng.create_repository("test_facilities", ruleset="none")
    r.load_turtle(fixtures.full_fixture_ttl(n=N_FACILITIES))
    return r


@pytest.fixture(scope="module")
def triples():
    return parse_turtle(fixtures.full_fixture_ttl(n=N_FACILITIES))


def lexes(rows, i=0):
    return [r[i].lex if r[i] is not None else None for r in rows]


# -- the six golden queries --------------------------------------------------

def test_golden_q1_readme_test_query(repo, triples):
    rows = repo.sparql_collect(
        PROLOG
        + """SELECT ?name ?type WHERE {
          ?facility a ex:Facility ; schema:name ?name ; ex:hasFacilityType ?type .
        } LIMIT 10"""
    )
    assert len(rows) == 10
    names = {(s, o.lex) for s, p, o in triples if p.value == SCHEMA + "name"}
    for r in rows:
        assert r["type"].lex.startswith(EX)


def test_golden_q2_count_all(repo, triples):
    rows = repo.sparql_collect("SELECT (COUNT(*) as ?count) WHERE { ?s ?p ?o }")
    assert rows[0]["count"].lex == str(len(triples))


def test_golden_q3_count_by_type(repo, triples):
    rows = repo.sparql_collect(
        PROLOG
        + """SELECT ?type (COUNT(?facility) AS ?count)
        WHERE { ?facility ex:hasFacilityType ?type } GROUP BY ?type"""
    )
    expected = Counter(
        o.value for s, p, o in triples if p.value == EX + "hasFacilityType"
    )
    got = {r["type"].lex: int(r["count"].lex) for r in rows}
    assert got == dict(expected)


def test_golden_q4_areas_with_no_parks(repo):
    rows = repo.sparql_collect(
        PROLOG
        + """SELECT ?area WHERE {
          ?area a ex:CommitteeArea .
          FILTER NOT EXISTS {
            ?facility ex:hasFacilityType ex:Park ; ex:inCommitteeArea ?area .
          }
        }"""
    )
    assert lexes(rows) == [EX + "NorthWest"]


def test_golden_q5_facilities_in_area(repo, triples):
    rows = repo.sparql_collect(
        PROLOG
        + """SELECT ?name ?type WHERE {
          ?facility ex:inCommitteeArea ex:NorthCentral ;
                    schema:name ?name ; ex:hasFacilityType ?type .
        }"""
    )
    in_area = {
        s.value for s, p, o in triples
        if p.value == EX + "inCommitteeArea" and o.value == EX + "NorthCentral"
    }
    assert len(rows) == len(in_area)


def test_golden_q6_bounding_box(repo, triples):
    rows = repo.sparql_collect(
        PROLOG
        + """SELECT ?facility ?name WHERE {
          ?facility schema:name ?name ; ex:latitude ?lat ; ex:longitude ?lon .
          FILTER(?lat > 53.34 && ?lat < 53.36 && ?lon > -6.27 && ?lon < -6.25)
        }"""
    )
    lat = {s.value: float(o.lex) for s, p, o in triples if p.value == EX + "latitude"}
    lon = {s.value: float(o.lex) for s, p, o in triples if p.value == EX + "longitude"}
    expected = {
        s for s in lat
        if 53.34 < lat[s] < 53.36 and -6.27 < lon[s] < -6.25
    }
    assert set(lexes(rows)) == expected
    assert len(expected) >= 50  # FIXTURES.md §A.2 guarantee


# -- micro-graph algebra tests ----------------------------------------------

MICRO_TTL = """
@prefix ex: <http://m#> .
ex:a ex:knows ex:b . ex:b ex:knows ex:c . ex:c ex:knows ex:d .
ex:a ex:age 30 . ex:b ex:age 25 . ex:c ex:age 35 .
ex:a ex:name "Alice"@en . ex:b ex:name "Bob" .
ex:a a ex:Person . ex:b a ex:Person . ex:c a ex:Person . ex:d a ex:Robot .
ex:d ex:age 7 .
"""

MP = "PREFIX ex: <http://m#>\n"


@pytest.fixture(scope="module")
def micro(spark):
    eng = Engine(spark)
    r = eng.create_repository("micro", ruleset="none")
    r.load_turtle(MICRO_TTL)
    return r


def test_optional_left_join(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?p ?n WHERE { ?p a ex:Person . OPTIONAL { ?p ex:name ?n } }"
    )
    got = {r["p"].lex: (r["n"].lex if r["n"] else None) for r in rows}
    assert got == {"http://m#a": "Alice", "http://m#b": "Bob", "http://m#c": None}


def test_optional_filter_joins_the_leftjoin_condition(spark):
    """W3C SPARQL 18.2.2.2: OPTIONAL { P FILTER(F) } puts F in the LeftJoin
    condition — a failing F keeps the left row UNMATCHED (null), it does not
    drop it; and F may reference left-side variables."""
    eng = Engine(spark)
    r = eng.create_repository("optfilter", ruleset="none")
    r.load_turtle("""
        @prefix ex: <http://of#> .
        ex:book1 ex:title "SPARQL Tutorial" ; ex:price 42 .
        ex:book2 ex:title "The Semantic Web" ; ex:price 23 .
    """)
    P2 = "PREFIX ex: <http://of#>\n"
    rows = r.sparql_collect(
        P2 + """SELECT ?title ?price WHERE {
            ?x ex:title ?title .
            OPTIONAL { ?x ex:price ?price . FILTER(?price < 30) }
        }"""
    )
    got = {r_["title"].lex: (r_["price"].lex if r_["price"] else None) for r_ in rows}
    # book1's price fails the filter → title still returned, price unbound
    assert got == {"SPARQL Tutorial": None, "The Semantic Web": "23"}
    # filter referencing a LEFT-side variable
    rows2 = r.sparql_collect(
        P2 + """SELECT ?x ?other WHERE {
            ?x ex:price ?p .
            OPTIONAL { ?y ex:price ?other . FILTER(?other < ?p) }
        }"""
    )
    got2 = {r_["x"].lex: (r_["other"].lex if r_["other"] else None) for r_ in rows2}
    assert got2 == {"http://of#book1": "23", "http://of#book2": None}


def test_union(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?x WHERE { { ?x a ex:Person } UNION { ?x a ex:Robot } }"
    )
    assert len(rows) == 4


def test_minus_vs_not_exists_shared_domain(micro):
    # MINUS with no shared variables is a no-op (SURVEY §2.3 J5)
    rows = micro.sparql_collect(
        MP + "SELECT ?x WHERE { ?x a ex:Person . MINUS { ?y a ex:Robot } }"
    )
    assert len(rows) == 3
    rows2 = micro.sparql_collect(
        MP + "SELECT ?x WHERE { ?x a ex:Person . FILTER NOT EXISTS { ?y a ex:Robot } }"
    )
    assert len(rows2) == 0  # NOT EXISTS fails for every row


def test_minus_shared(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?x WHERE { ?x a ex:Person . MINUS { ?x ex:name ?n } }"
    )
    assert lexes(rows) == ["http://m#c"]


def test_values_join(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?age WHERE { VALUES ?x { ex:a ex:c } ?x ex:age ?age }"
    )
    got = {r["x"].lex: r["age"].lex for r in rows}
    assert got == {"http://m#a": "30", "http://m#c": "35"}


def test_bind_and_arith(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?dbl WHERE { ?x ex:age ?a . BIND(?a * 2 AS ?dbl) FILTER(?dbl > 50) }"
    )
    got = {r["x"].lex: float(r["dbl"].lex) for r in rows}
    assert got == {"http://m#a": 60.0, "http://m#c": 70.0}


def test_subselect(micro):
    rows = micro.sparql_collect(
        MP
        + """SELECT ?x ?a WHERE {
            { SELECT ?x WHERE { ?x a ex:Person } }
            ?x ex:age ?a . FILTER(?a >= 30)
        }"""
    )
    assert sorted(lexes(rows)) == ["http://m#a", "http://m#c"]


def test_property_path_plus(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?y WHERE { ex:a ex:knows+ ?y }"
    )
    assert sorted(lexes(rows)) == ["http://m#b", "http://m#c", "http://m#d"]


def test_property_path_bound_endpoints_routes_seeded(micro, monkeypatch):
    """Bound-endpoint +/* paths take the frontier-seeded closure (VERDICT
    r6 task 1): the fixpoint must be SEEDED from the constant, never the
    all-pairs closure post-filtered. Asserted by spying on the closure
    kernel's seeds argument, alongside the result values for every
    boundness shape."""
    from dublin_smart_city_graphdb_spark.graph import closure as C

    calls: list[bool] = []
    bcasts: list[bool] = []
    real = C.transitive_closure

    def spy(edges, src="src", dst="dst", max_iterations=50, seeds=None,
            broadcast_seeds=False):
        calls.append(seeds is not None)
        bcasts.append(broadcast_seeds)
        return real(edges, src, dst, max_iterations, seeds, broadcast_seeds)

    monkeypatch.setattr(C, "transitive_closure", spy)

    # bound subject, + : a knows+ -> b, c, d
    rows = micro.sparql_collect(MP + "SELECT ?y WHERE { ex:a ex:knows+ ?y }")
    assert sorted(lexes(rows)) == ["http://m#b", "http://m#c", "http://m#d"]
    # bound object, + : who reaches c = a, b
    rows = micro.sparql_collect(MP + "SELECT ?x WHERE { ?x ex:knows+ ex:c }")
    assert sorted(lexes(rows)) == ["http://m#a", "http://m#b"]
    # bound subject, * : zero-length arm includes a itself
    rows = micro.sparql_collect(MP + "SELECT ?y WHERE { ex:a ex:knows* ?y }")
    assert sorted(lexes(rows)) == [
        "http://m#a", "http://m#b", "http://m#c", "http://m#d",
    ]
    # inverse-wrapped bound endpoint: ?y ^(ex:knows+) ex:b ≡ b knows+ y
    rows = micro.sparql_collect(
        MP + "SELECT ?y WHERE { ?y ^(ex:knows+) ex:b }"
    )
    assert sorted(lexes(rows)) == ["http://m#c", "http://m#d"]
    # both bound: ASK-shaped membership
    rows = micro.sparql_collect(
        MP + "SELECT (1 AS ?ok) WHERE { ex:a ex:knows+ ex:d }"
    )
    assert len(rows) == 1
    assert calls and all(calls), f"unseeded closure call slipped in: {calls}"
    # constant endpoints are provably tiny → broadcast hint pinned
    assert bcasts and all(bcasts), f"const seed not broadcast: {bcasts}"
    # VARIABLE endpoint already bound by the BGP chain: seeded from the
    # chain's distinct values (no collect), both directions
    calls.clear()
    bcasts.clear()
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?y WHERE { ?x a ex:Person . ?x ex:knows+ ?y }"
    )
    got = sorted((r["x"].lex, r["y"].lex) for r in rows)
    assert got == [
        ("http://m#a", "http://m#b"), ("http://m#a", "http://m#c"),
        ("http://m#a", "http://m#d"), ("http://m#b", "http://m#c"),
        ("http://m#b", "http://m#d"), ("http://m#c", "http://m#d"),
    ]
    assert calls == [True]
    calls.clear()
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?y WHERE { ?x a ex:Robot . ?y ex:knows+ ?x }"
    )
    assert sorted((r["y"].lex) for r in rows) == [
        "http://m#a", "http://m#b", "http://m#c",
    ]
    assert calls == [True]
    # variable-seeded binding sets can be arbitrarily large → NO pinned
    # broadcast hint; AQE picks the strategy from runtime stats
    # (ADVICE r7: an unconditional broadcast of an accumulated BGP
    # binding set risks OOM at exactly the scale seeding targets)
    assert bcasts == [False, False]
    # star keeps the zero-length arm per seed (x knows* x)
    calls.clear()
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?y WHERE { ?x a ex:Person . ?x ex:knows* ?y "
             "FILTER(?x = ?y) }"
    )
    assert sorted(r["x"].lex for r in rows) == [
        "http://m#a", "http://m#b", "http://m#c",
    ]
    assert calls == [True]
    # unbound endpoints still take the all-pairs route
    calls.clear()
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?y WHERE { ?x ex:knows+ ?y }"
    )
    assert len(rows) == 6
    assert calls == [False]


def test_property_path_seq_inverse(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?y WHERE { ex:a ex:knows/ex:knows ?y }"
    )
    assert lexes(rows) == ["http://m#c"]
    # ?y ^ex:knows ex:b ≡ ex:b ex:knows ?y → c
    rows2 = micro.sparql_collect(MP + "SELECT ?y WHERE { ?y ^ex:knows ex:b }")
    assert lexes(rows2) == ["http://m#c"]


def test_bnode_patterns_are_existential_vars(micro):
    # [ ex:knows ?y ]: "something that knows ?y" — must JOIN on the bnode,
    # not match everything
    rows = micro.sparql_collect(
        MP + "SELECT ?y WHERE { [ ex:knows ?y ] a ex:Person }"
    )
    # knowers typed Person: a→b, b→c, c→d (a, b, c are all Persons)
    assert sorted(r["y"].lex for r in rows) == [
        "http://m#b", "http://m#c", "http://m#d",
    ]
    # bnode var not projected by SELECT *
    rows2 = micro.sparql_collect(MP + "SELECT * WHERE { [ ex:knows ?y ] }")
    assert set(rows2[0].asDict()) == {"y"}


def test_collections_roundtrip(spark):
    eng = Engine(spark)
    r = eng.create_repository("coll", ruleset="none")
    r.load_turtle("@prefix ex: <http://c#> .\nex:menu ex:items (ex:a ex:b ex:c) .")
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    # walk the list with a property path over rdf:rest*/rdf:first
    rows = r.sparql_collect(
        f"PREFIX ex: <http://c#> SELECT ?item WHERE {{ "
        f"ex:menu ex:items/<{rdf}rest>*/<{rdf}first> ?item }}"
    )
    assert sorted(x["item"].lex for x in rows) == [
        "http://c#a", "http://c#b", "http://c#c",
    ]
    # collection syntax in the query pattern too
    rows2 = r.sparql_collect(
        "PREFIX ex: <http://c#> SELECT ?s WHERE { ?s ex:items (ex:a ex:b ex:c) }"
    )
    assert [x["s"].lex for x in rows2] == ["http://c#menu"]


def test_construct_bnode_fresh_per_solution(micro):
    rows = micro.sparql_collect(
        MP + "CONSTRUCT { ?x ex:via [ ] } WHERE { ?x ex:knows ?y }"
    )
    bnodes = [r["o"].lex for r in rows]
    assert len(bnodes) == 3
    assert len(set(bnodes)) == 3  # fresh per solution
    assert all(b.startswith("_:") for b in bnodes)


def test_negated_property_set(micro):
    # !ex:knows: any edge except knows (only the rdf:type edges here)
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?y WHERE { ?x !(ex:knows|ex:age|ex:name) ?y }"
    )
    types = {(r["x"].lex, r["y"].lex) for r in rows}
    assert ("http://m#a", "http://m#Person") in types
    assert all(y.endswith(("Person", "Robot")) for _, y in types)
    # inverse-only: ?x !(^ex:knows) ex:a matches (a, p, ?x) with p ≠ knows,
    # i.e. every non-knows edge OUT of a, reversed
    rows2 = micro.sparql_collect(
        MP + "SELECT ?x WHERE { ?x !(^ex:knows) ex:a }"
    )
    got2 = {r["x"].lex for r in rows2}
    assert got2 == {"30", "Alice", "http://m#Person"}
    rows3 = micro.sparql_collect(
        MP + "SELECT ?y WHERE { ex:b !ex:name ?y }"
    )
    got = {r["y"].lex for r in rows3}
    assert got == {"http://m#c", "25", "http://m#Person"}


def test_predicate_stats_used_for_ordering(micro):
    stats = micro.predicate_stats()
    assert stats["http://m#knows"] == 3
    assert stats["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"] == 4
    # ordering is a pure optimization — results must not change
    rows = micro.sparql_collect(
        MP + "SELECT ?x WHERE { ?x a ex:Person . ?x ex:name ?n . ?x ex:age ?a }"
    )
    assert sorted(r["x"].lex for r in rows) == ["http://m#a", "http://m#b"]


def test_order_limit_offset_distinct(micro):
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?a WHERE { ?x ex:age ?a } ORDER BY DESC(?a) LIMIT 2 OFFSET 1"
    )
    assert [r["a"].lex for r in rows] == ["30", "25"]


def test_aggregates(micro):
    rows = micro.sparql_collect(
        MP
        + """SELECT (SUM(?a) AS ?s) (AVG(?a) AS ?avg) (MIN(?a) AS ?mn)
                   (MAX(?a) AS ?mx) (COUNT(*) AS ?n)
           WHERE { ?x ex:age ?a }"""
    )
    r = rows[0]
    assert float(r["s"].lex) == 97
    assert abs(float(r["avg"].lex) - 24.25) < 1e-9
    assert float(r["mn"].lex) == 7
    assert float(r["mx"].lex) == 35
    assert r["n"].lex == "4"


def test_group_concat_having(micro):
    rows = micro.sparql_collect(
        MP
        + """SELECT ?t (GROUP_CONCAT(STR(?x); SEPARATOR=",") AS ?members)
           WHERE { ?x a ?t } GROUP BY ?t HAVING (COUNT(?x) > 1)"""
    )
    assert len(rows) == 1
    assert rows[0]["members"].lex == "http://m#a,http://m#b,http://m#c"


def test_ask(micro):
    assert micro.sparql_collect(MP + "ASK { ex:a ex:knows ex:b }")[0]["ask"] is True
    assert micro.sparql_collect(MP + "ASK { ex:b ex:knows ex:a }")[0]["ask"] is False


def test_construct(micro):
    rows = micro.sparql_collect(
        MP + "CONSTRUCT { ?x ex:linked ?y } WHERE { ?x ex:knows ?y }"
    )
    assert len(rows) == 3
    assert all(r["p"].lex == "http://m#linked" for r in rows)


def test_describe(micro):
    rows = micro.sparql_collect(MP + "DESCRIBE ex:a")
    # statements with ex:a as subject (4) or as IRI object (none)
    assert len(rows) == 4


def test_describe_follows_bnode_closure(spark):
    """Concise bounded description: anonymous sub-structures come along."""
    eng = Engine(spark)
    r = eng.create_repository("cbd", ruleset="none")
    r.load_turtle("""
        @prefix ex: <http://cbd#> .
        ex:f ex:name "F" ; ex:geom [ ex:wkt "POINT(1 2)" ; ex:srs [ ex:code 4326 ] ] .
        ex:other ex:name "O" .
    """)
    rows = r.sparql_collect("DESCRIBE <http://cbd#f>")
    preds = sorted(row["p"].split("#")[1] for row in rows)
    # f's 2 statements + bnode geom's 2 + nested srs bnode's 1
    assert preds == ["code", "geom", "name", "srs", "wkt"]


def test_describe_follows_a_long_list_to_its_end(spark):
    """An RDF list is a blank-node chain one level per item: DESCRIBE must
    follow all seven levels, not stop at a fixed depth."""
    eng = Engine(spark)
    r = eng.create_repository("cbd_list", ruleset="none")
    r.load_turtle("""
        @prefix ex: <http://cbd#> .
        ex:x ex:items ("a" "b" "c" "d" "e" "f" "g") .
    """)
    rows = r.sparql_collect("DESCRIBE <http://cbd#x>")
    # x's 1 statement + rdf:first and rdf:rest of each of the 7 list nodes
    assert len(rows) == 15
    firsts = sorted(
        row["o_lex"] for row in rows if row["p"].endswith("#first")
    )
    assert firsts == ["a", "b", "c", "d", "e", "f", "g"]


def test_builtin_functions(micro):
    rows = micro.sparql_collect(
        MP
        + """SELECT ?x (STRLEN(?n) AS ?len) (UCASE(?n) AS ?u) (LANG(?n) AS ?lg)
           WHERE { ?x ex:name ?n . FILTER(STRSTARTS(?n, "A")) }"""
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["len"].lex == "5"
    assert r["u"].lex == "ALICE"
    assert r["lg"].lex == "en"


def test_filter_error_semantics_drops_row(micro):
    # ?n is a string for b: numeric comparison is a type error → row dropped
    rows = micro.sparql_collect(
        MP + "SELECT ?x WHERE { ?x ex:name ?n . FILTER(?n > 5) }"
    )
    assert rows == []


def test_regex_and_if(micro):
    rows = micro.sparql_collect(
        MP
        + """SELECT ?x (IF(?a > 28, "old", "young") AS ?cls)
            WHERE { ?x ex:age ?a . FILTER(REGEX(STR(?x), "[ab]$")) }"""
    )
    got = {r["x"].lex: r["cls"].lex for r in rows}
    assert got == {"http://m#a": "old", "http://m#b": "young"}


def test_graph_scoping(spark):
    eng = Engine(spark)
    r = eng.create_repository("graphs", ruleset="none")
    r.load_turtle("@prefix ex: <http://g#> . ex:a ex:p ex:b .", graph="http://g/one")
    r.load_turtle("@prefix ex: <http://g#> . ex:c ex:p ex:d .", graph="http://g/two")
    rows = r.sparql_collect(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <http://g#p> ?o } }"
    )
    got = {r["g"].lex: r["s"].lex for r in rows}
    assert got == {"http://g/one": "http://g#a", "http://g/two": "http://g#c"}
    rows2 = r.sparql_collect(
        "SELECT ?s WHERE { GRAPH <http://g/two> { ?s ?p ?o } }"
    )
    assert lexes(rows2) == ["http://g#c"]


def test_exists_nested_in_filter_expression(spark):
    """EXISTS / NOT EXISTS as sub-expressions of compound FILTERs, BIND,
    and projection expressions (pre-joined boolean flags)."""
    eng = Engine(spark)
    r = eng.create_repository("nex", ruleset="none")
    r.load_turtle("""
        @prefix ex: <http://nx#> .
        ex:a ex:p 1 ; ex:q "x" . ex:b ex:p 2 ; ex:q "y" . ex:c ex:p 3 .
    """)

    def subjects(q):
        return sorted(row["s"]["lex"][-1] for row in r.sparql_collect(q))

    assert subjects(
        'SELECT ?s WHERE { ?s <http://nx#p> ?v . '
        'FILTER(EXISTS { ?s <http://nx#q> ?q } || ?v = 3) }'
    ) == ["a", "b", "c"]
    assert subjects(
        'SELECT ?s WHERE { ?s <http://nx#p> ?v . '
        'FILTER(NOT EXISTS { ?s <http://nx#q> ?q } && ?v > 1) }'
    ) == ["c"]
    assert subjects(
        'SELECT ?s WHERE { ?s <http://nx#p> ?v . FILTER('
        'EXISTS { ?s <http://nx#q> "x" } || EXISTS { ?s <http://nx#q> "y" }) }'
    ) == ["a", "b"]
    rows = r.sparql_collect(
        'SELECT ?s ?h WHERE { ?s <http://nx#p> ?v . '
        'BIND(IF(EXISTS { ?s <http://nx#q> ?q2 }, "has", "none") AS ?h) }'
    )
    assert sorted((x["s"]["lex"][-1], x["h"]["lex"]) for x in rows) == [
        ("a", "has"), ("b", "has"), ("c", "none"),
    ]


def test_construct_where_shorthand(spark):
    """CONSTRUCT WHERE { BGP } (spec §10.2.3): pattern doubles as template;
    non-BGP groups are rejected."""
    import pytest as _pytest

    eng = Engine(spark)
    r = eng.create_repository("cws", ruleset="none")
    r.load_turtle('@prefix ex: <http://cw#> . ex:a ex:p 1 . ex:b ex:p 2 .')
    rows = r.sparql_collect('CONSTRUCT WHERE { ?s <http://cw#p> ?v }')
    assert sorted(x["o"]["lex"] for x in rows) == ["1", "2"]
    with _pytest.raises(ValueError):
        r.sparql_collect(
            'CONSTRUCT WHERE { ?s <http://cw#p> ?v FILTER(?v > 1) }'
        )


def test_explain_surfaces_physical_plan(spark):
    eng = Engine(spark)
    r = eng.create_repository("expl", ruleset="none")
    r.load_turtle('@prefix ex: <http://e#> . ex:a ex:p 1 .')
    plan = r.explain('SELECT ?s WHERE { ?s <http://e#p> ?v . FILTER(?v > 0) }')
    assert "Physical Plan" in plan
    assert "Filter" in plan
    # simple mode works too
    assert "Scan" in r.explain('SELECT ?s WHERE { ?s ?p ?o }', mode="simple")


# -- SERVICE: engine-internal federation (SPARQL 1.1 Federated Query) --------


@pytest.fixture(scope="module")
def federated(spark):
    eng = Engine(spark)
    people = eng.create_repository("fed_people", ruleset="none")
    people.load_turtle(
        "@prefix ex: <http://f#> .\n"
        "ex:alice ex:worksAt ex:acme . ex:bob ex:worksAt ex:globex .\n"
        "ex:carol ex:worksAt ex:acme .\n"
    )
    firms = eng.create_repository("fed_firms", ruleset="none")
    firms.load_turtle(
        "@prefix ex: <http://f#> .\n"
        'ex:acme ex:city "Dublin" . ex:globex ex:city "Cork" .\n'
    )
    return people


def test_service_joins_across_repositories(federated):
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p ?city WHERE { "
        "?p ex:worksAt ?f . "
        "SERVICE <urn:repo:fed_firms> { ?f ex:city ?city } }"
    )
    got = sorted((r[0].lex, r[1].lex) for r in rows)
    assert got == [
        ("http://f#alice", "Dublin"),
        ("http://f#bob", "Cork"),
        ("http://f#carol", "Dublin"),
    ]


def test_service_silent_unknown_endpoint_is_unit(federated):
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p WHERE { "
        "?p ex:worksAt ?f . "
        "SERVICE SILENT <urn:repo:no_such> { ?f ex:city ?city } }"
    )
    assert len(rows) == 3  # silent failure = unit solution; outer rows kept


def test_service_unknown_endpoint_raises(federated):
    with pytest.raises(ValueError, match="SERVICE endpoint"):
        federated.sparql(
            "PREFIX ex: <http://f#> SELECT ?p WHERE { "
            "?p ex:worksAt ?f . "
            "SERVICE <urn:repo:no_such> { ?f ex:city ?city } }"
        )


def test_nested_optional_scoping(micro):
    """Nested OPTIONAL: the inner OPTIONAL extends only solutions that
    matched the outer one. ex:c has no name → outer OPTIONAL unmatched →
    ?n and ?a both unbound, even though ex:c HAS an age (binding ?a there
    would be the classic non-well-designed-pattern bug)."""
    rows = micro.sparql_collect(
        MP + "SELECT ?p ?n ?a WHERE { ?p a ex:Person . "
        "OPTIONAL { ?p ex:name ?n . OPTIONAL { ?p ex:age ?a } } }"
    )
    got = {
        r["p"].lex: (
            r["n"].lex if r["n"] else None,
            r["a"].lex if r["a"] else None,
        )
        for r in rows
    }
    assert got == {
        "http://m#a": ("Alice", "30"),
        "http://m#b": ("Bob", "25"),
        "http://m#c": (None, None),
    }


def test_order_by_unprojected_expression(micro):
    """SPARQL §18.2.5: OrderBy precedes Project, so sort keys may use
    WHERE-clause variables (and expressions over them) that are not in the
    SELECT list. Regression: these previously compiled against the
    projected frame and silently sorted by unbound."""
    rows = micro.sparql_collect(
        MP + "SELECT ?p WHERE { ?p ex:age ?a } ORDER BY DESC(?a + 0)"
    )
    assert lexes(rows) == [
        "http://m#c",  # 35
        "http://m#a",  # 30
        "http://m#b",  # 25
        "http://m#d",  # 7
    ]


def test_order_by_select_expression_alias(micro):
    """SELECT-expression aliases extend the solutions and are valid sort
    keys."""
    rows = micro.sparql_collect(
        MP + "SELECT ?p (?a * 2 AS ?dbl) WHERE { ?p ex:age ?a } ORDER BY ?dbl"
    )
    assert lexes(rows) == [
        "http://m#d", "http://m#b", "http://m#a", "http://m#c",
    ]


def test_distinct_with_order_by(micro):
    """DISTINCT + ORDER BY: duplicates collapse and the survivors come back
    sorted (the sort must run after dropDuplicates, which would otherwise
    destroy it)."""
    rows = micro.sparql_collect(
        MP + "SELECT DISTINCT ?t WHERE { ?x a ?t } ORDER BY DESC(STR(?t))"
    )
    assert lexes(rows) == ["http://m#Robot", "http://m#Person"]


def test_sum_avg_over_empty_is_zero(micro):
    """SPARQL §18.5.1: Sum({}) = 0 and Avg({}) = 0 — not unbound."""
    rows = micro.sparql_collect(
        MP + "SELECT (SUM(?a) AS ?s) (AVG(?a) AS ?v) WHERE "
        "{ ?x ex:age ?a . FILTER(?a > 1000) }"
    )
    assert len(rows) == 1
    # Both are the spec definition's plain integer zero: Sum({}) = 0 and
    # Avg({}) = 0 (§18.5.1.1.4 — the W3C suite's agg-avg-02 shape), not
    # the decimal "0.0" a Sum÷Count implementation would leak.
    assert rows[0]["s"].lex == "0"
    assert rows[0]["v"].lex == "0"


def test_values_with_undef_rows(micro):
    """VALUES rows may leave positions UNDEF; an UNDEF cell is compatible
    with any binding (it constrains nothing). Regression: UNDEF produced a
    null-fielded struct that failed the join-compatibility check, so every
    row with an UNDEF silently matched nothing."""
    rows = micro.sparql_collect(
        MP + "SELECT ?x ?k WHERE { ?x ex:knows ?k . "
        "VALUES (?x ?k) { (ex:a UNDEF) (UNDEF ex:c) } }"
    )
    got = sorted((r["x"].lex, r["k"].lex) for r in rows)
    assert got == [
        ("http://m#a", "http://m#b"),
        ("http://m#b", "http://m#c"),
    ]


# -- HTTP SERVICE federation (wire path, sparql/federation.py) ---------------

@pytest.fixture(scope="module")
def wire_server(spark):
    from dublin_smart_city_graphdb_spark.protocol_http import SparqlHttpServer

    eng = Engine(spark)
    firms = eng.create_repository("wire_firms", ruleset="none")
    firms.load_turtle(
        "@prefix ex: <http://f#> .\n"
        '@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n'
        'ex:acme ex:city "Dublin"@en ; ex:size 42 .\n'
        'ex:globex ex:city "Cork" ; ex:size 7 .\n'
    )
    srv = SparqlHttpServer(eng).start()
    yield srv
    srv.stop()


def test_service_http_joins_over_the_wire(federated, wire_server):
    """SERVICE <http://...> POSTs the captured group to a real SPARQL
    protocol endpoint and joins the results-JSON bindings locally."""
    endpoint = (
        f"http://{wire_server.host}:{wire_server.port}/repositories/wire_firms"
    )
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p ?city WHERE { "
        "?p ex:worksAt ?f . "
        f"SERVICE <{endpoint}> {{ ?f ex:city ?city }} }}"
    )
    got = sorted((r[0].lex, r[1].lex) for r in rows)
    assert got == [
        ("http://f#alice", "Dublin"),
        ("http://f#bob", "Cork"),
        ("http://f#carol", "Dublin"),
    ]
    # language tag survives the JSON round trip
    langs = {r[1].lex: r[1].lang for r in rows}
    assert langs["Dublin"] == "en" and langs["Cork"] is None


def test_service_http_numeric_shadow_filters_locally(federated, wire_server):
    """Typed literals from the wire rebuild their numeric shadow columns,
    so an OUTER FILTER can compare them."""
    endpoint = (
        f"http://{wire_server.host}:{wire_server.port}/repositories/wire_firms"
    )
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p ?size WHERE { "
        "?p ex:worksAt ?f . "
        f"SERVICE <{endpoint}> {{ ?f ex:size ?size }} "
        "FILTER(?size > 10) }"
    )
    assert sorted(r[0].lex for r in rows) == [
        "http://f#alice",
        "http://f#carol",
    ]
    assert all(r[1].lex == "42" for r in rows)


def test_service_http_silent_down_endpoint_is_unit(federated):
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p WHERE { "
        "?p ex:worksAt ?f . "
        "SERVICE SILENT <http://127.0.0.1:9/repositories/nowhere> "
        "{ ?f ex:city ?city } }"
    )
    assert len(rows) == 3


def test_service_http_down_endpoint_raises(federated):
    with pytest.raises(ValueError, match="SERVICE endpoint"):
        federated.sparql(
            "PREFIX ex: <http://f#> SELECT ?p WHERE { "
            "?p ex:worksAt ?f . "
            "SERVICE <http://127.0.0.1:9/repositories/nowhere> "
            "{ ?f ex:city ?city } }"
        )


def test_service_http_rescopes_remote_bnodes(federated, wire_server, spark):
    """Blank nodes arriving over the wire are re-scoped per call: they
    bind and join *within* the remote solution set but can never equal a
    local blank label (Federated Query §2.4)."""
    from dublin_smart_city_graphdb_spark.engine import Engine

    eng = Engine(spark)
    remote = eng.create_repository("wire_bnodes", ruleset="none")
    remote.load_turtle(
        "@prefix ex: <http://f#> .\n"
        'ex:acme ex:contact _:c1 . _:c1 ex:phone "123" .\n'
    )
    from dublin_smart_city_graphdb_spark.protocol_http import SparqlHttpServer

    srv = SparqlHttpServer(eng).start()
    try:
        endpoint = (
            f"http://{srv.host}:{srv.port}/repositories/wire_bnodes"
        )
        # local graph ALSO has a _:c1 label (in the people repo it does
        # not, so add one joined to alice's firm)
        federated.load_turtle(
            "@prefix ex: <http://f#> .\n"
            "ex:acme ex:localContact _:c1 .\n"
        )
        rows = federated.sparql_collect(
            "PREFIX ex: <http://f#> SELECT ?c ?phone ?lc WHERE { "
            f"SERVICE <{endpoint}> {{ ex:acme ex:contact ?c . "
            "?c ex:phone ?phone } "
            "OPTIONAL { ex:acme ex:localContact ?lc . FILTER(?lc = ?c) } }"
        )
        assert len(rows) == 1
        c, phone, lc = rows[0]
        # the remote bnode joined to its own phone...
        assert phone.lex == "123" and c.lex.startswith("_:")
        # ...but was renamed away from the raw remote label and never
        # equals the local _:c1
        assert c.lex != "_:c1"
        assert lc is None
    finally:
        srv.stop()


# -- HTTP SERVICE bound join (FedX-style VALUES injection) -------------------

@pytest.fixture()
def wire_spy(monkeypatch):
    """Capture the query text each wire fetch sends and how many
    solutions came back."""
    from dublin_smart_city_graphdb_spark.sparql import federation

    calls = []
    real = federation.fetch_bindings

    def spy(endpoint, query, timeout=15.0):
        vars_, rows = real(endpoint, query, timeout)
        calls.append({"query": query, "n_rows": len(rows)})
        return vars_, rows

    monkeypatch.setattr(federation, "fetch_bindings", spy)
    return calls


def test_service_http_bound_join_restricts_remote_fetch(
    federated, wire_server, wire_spy
):
    """Bindings left of SERVICE ride to the endpoint as a VALUES block
    (FedX bound join): the remote ships ONLY compatible solutions."""
    endpoint = (
        f"http://{wire_server.host}:{wire_server.port}/repositories/wire_firms"
    )
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?city WHERE { "
        "ex:alice ex:worksAt ?f . "
        f"SERVICE <{endpoint}> {{ ?f ex:city ?city }} }}"
    )
    assert [r[0].lex for r in rows] == ["Dublin"]
    assert len(wire_spy) == 1
    q = wire_spy[0]["query"]
    assert "VALUES (?f)" in q and "<http://f#acme>" in q
    assert "globex" not in q
    # the endpoint evaluated the restriction: one solution shipped, not two
    assert wire_spy[0]["n_rows"] == 1


def test_service_http_leading_service_fetches_unrestricted(
    federated, wire_server, wire_spy
):
    """SERVICE as the first group element has no left bindings — the
    plain unrestricted fetch (spec evaluation order) still applies."""
    endpoint = (
        f"http://{wire_server.host}:{wire_server.port}/repositories/wire_firms"
    )
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p ?city WHERE { "
        f"SERVICE <{endpoint}> {{ ?f ex:city ?city }} "
        "?p ex:worksAt ?f . }"
    )
    assert len(rows) == 3
    assert "VALUES" not in wire_spy[0]["query"]
    assert wire_spy[0]["n_rows"] == 2


def test_service_http_bound_join_caps_to_unrestricted(
    federated, wire_server, wire_spy, monkeypatch
):
    """Above _BOUND_JOIN_MAX distinct keys the VALUES block would bloat
    the request — fall back to the unrestricted fetch."""
    from dublin_smart_city_graphdb_spark.sparql import federation

    monkeypatch.setattr(federation, "_BOUND_JOIN_MAX", 0)
    endpoint = (
        f"http://{wire_server.host}:{wire_server.port}/repositories/wire_firms"
    )
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p ?city WHERE { "
        "?p ex:worksAt ?f . "
        f"SERVICE <{endpoint}> {{ ?f ex:city ?city }} }}"
    )
    assert len(rows) == 3
    assert "VALUES" not in wire_spy[0]["query"]


def test_service_http_bound_join_empty_local_side(
    federated, wire_server, wire_spy
):
    """An empty local side sends an empty VALUES data block — the remote
    evaluates to zero solutions and nothing meaningful is transferred."""
    endpoint = (
        f"http://{wire_server.host}:{wire_server.port}/repositories/wire_firms"
    )
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?city WHERE { "
        "ex:nobody ex:worksAt ?f . "
        f"SERVICE <{endpoint}> {{ ?f ex:city ?city }} }}"
    )
    assert rows == []
    assert "VALUES (?f) {  }" in wire_spy[0]["query"].replace("{ }", "{  }")
    assert wire_spy[0]["n_rows"] == 0


def test_service_http_bound_join_lang_literal_travels(
    federated, wire_server, wire_spy, spark
):
    """A language-tagged literal binding serializes into the VALUES block
    with its tag and round-trips through the remote join."""
    from dublin_smart_city_graphdb_spark.engine import Engine

    eng = Engine(spark)
    back = eng.create_repository("wire_city_back", ruleset="none")
    back.load_turtle(
        "@prefix ex: <http://f#> .\n"
        'ex:dub ex:cityName "Dublin"@en ; ex:pop 588 .\n'
        'ex:cork ex:cityName "Cork"@en ; ex:pop 222 .\n'
    )
    from dublin_smart_city_graphdb_spark.protocol_http import SparqlHttpServer

    srv = SparqlHttpServer(eng).start()
    try:
        endpoint = (
            f"http://{srv.host}:{srv.port}/repositories/wire_city_back"
        )
        # local side binds ?city = "Dublin"@en (from wire_firms fixture
        # data loaded into the local people repo? no — bind via VALUES)
        rows = federated.sparql_collect(
            "PREFIX ex: <http://f#> SELECT ?c ?pop WHERE { "
            'VALUES ?c { "Dublin"@en } '
            f"SERVICE <{endpoint}> {{ ?x ex:cityName ?c ; ex:pop ?pop }} }}"
        )
        assert len(rows) == 1 and rows[0][1].lex == "588"
        assert '"Dublin"@en' in wire_spy[0]["query"]
        assert wire_spy[0]["n_rows"] == 1
    finally:
        srv.stop()


def test_same_predicate_star_patterns(spark):
    """Two patterns on the SAME predicate within one star (``?c a :T1 ;
    a :T2``) must intersect, not annihilate: the star compaction's
    pre-shuffle constant filters OR together per predicate (per-pattern
    AND deleted each other's rows and returned nothing), and a predicate
    shared with a var-object pattern keeps its full object list."""
    from dublin_smart_city_graphdb_spark.engine import Engine

    eng = Engine(spark)
    r = eng.create_repository("same_pred_star", ruleset="none")
    r.load_turtle("""
        @prefix ex: <http://x#> .
        ex:a a ex:T1 . ex:a a ex:T2 . ex:a ex:name "n1" .
        ex:b a ex:T1 . ex:b ex:name "n2" .
    """)
    both = r.sparql_collect(
        "PREFIX ex: <http://x#> SELECT ?c WHERE { ?c a ex:T1 ; a ex:T2 }"
    )
    assert [x["c"].lex for x in both] == ["http://x#a"]
    with_name = r.sparql_collect(
        "PREFIX ex: <http://x#> SELECT ?n WHERE "
        "{ ?c a ex:T1 ; a ex:T2 ; ex:name ?n }"
    )
    assert [x["n"].lex for x in with_name] == ["n1"]
    mixed = r.sparql_collect(
        "PREFIX ex: <http://x#> SELECT ?c ?t WHERE { ?c a ex:T1 ; a ?t } "
        "ORDER BY ?c ?t"
    )
    assert [(x["c"].lex, x["t"].lex) for x in mixed] == [
        ("http://x#a", "http://x#T1"),
        ("http://x#a", "http://x#T2"),
        ("http://x#b", "http://x#T1"),
    ]


def test_type_join_skew_salting(spark):
    """rdf:type skew salting (SURVEY §7 M8, VERDICT r6 task 7): when
    load-time predicate stats flag rdf:type dominance, an inner equi-join
    keyed on a class-position variable is salted 8 ways — visible in the
    plan as the __salt key — with identical results and multiplicity;
    without dominance stats the plan is unsalted."""
    from dublin_smart_city_graphdb_spark.sources.turtle import turtle_to_rows
    from dublin_smart_city_graphdb_spark.model.schema import QUAD_SCHEMA
    from dublin_smart_city_graphdb_spark.sparql.compiler import QueryCompiler
    from dublin_smart_city_graphdb_spark.sparql.parser import parse_query

    ttl = "@prefix ex: <http://sk#> .\n" + "\n".join(
        f"ex:i{i} a ex:Hot . ex:i{i} ex:group ex:g{i % 3} ."
        for i in range(40)
    ) + "\nex:j1 a ex:Cold . ex:j2 a ex:Cold ."
    quads = spark.createDataFrame(turtle_to_rows(ttl), QUAD_SCHEMA)
    q = """
        PREFIX ex: <http://sk#>
        SELECT ?x ?y WHERE { ?x a ?t . ?y a ?t . }
    """
    # rdf:type dominates (42 of 82 triples): the salt engages
    stats = {"http://www.w3.org/1999/02/22-rdf-syntax-ns#type": 42,
             "http://sk#group": 40}
    salted_df = QueryCompiler(
        spark, quads, predicate_stats=stats
    ).compile(parse_query(q))
    plan = salted_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
    )
    assert "__salt" in plan
    plain_df = QueryCompiler(spark, quads).compile(parse_query(q))
    plain_plan = plain_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
    )
    assert "__salt" not in plain_plan
    key = lambda r: (r["x"]["lex"], r["y"]["lex"])  # noqa: E731
    got = sorted(key(r) for r in salted_df.collect())
    want = sorted(key(r) for r in plain_df.collect())
    assert got == want
    assert len(got) == 40 * 40 + 2 * 2


def test_service_nested_and_in_optional(federated, spark):
    """§18 federated-semantics pins (VERDICT r6 task 6): a SERVICE group
    may itself contain SERVICE (targets resolve from the same catalog at
    every depth), and SERVICE inside OPTIONAL extends-or-keeps the outer
    solutions like any optional group."""
    eng = federated.engine
    if "fed_countries" not in eng.list_repositories():
        c = eng.create_repository("fed_countries", ruleset="none")
        c.load_turtle(
            "@prefix ex: <http://f#> .\n"
            'ex:acme ex:country "IE" .\n'
        )
    # nested: people -> firms -> countries
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p ?cn WHERE { "
        "?p ex:worksAt ?f . "
        "SERVICE <urn:repo:fed_firms> { ?f ex:city ?city . "
        "  SERVICE <urn:repo:fed_countries> { ?f ex:country ?cn } } }"
    )
    got = sorted((r["p"].lex, r["cn"].lex) for r in rows)
    assert got == [("http://f#alice", "IE"), ("http://f#carol", "IE")]
    # SERVICE under OPTIONAL: bob's firm has no country -> row kept,
    # ?cn unbound
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p ?cn WHERE { "
        "?p ex:worksAt ?f . "
        "OPTIONAL { SERVICE <urn:repo:fed_countries> "
        "{ ?f ex:country ?cn } } }"
    )
    got = sorted((r["p"].lex, r["cn"].lex if r["cn"] else None)
                 for r in rows)
    assert got == [
        ("http://f#alice", "IE"),
        ("http://f#bob", None),
        ("http://f#carol", "IE"),
    ]


def test_service_variable_target_semantics(federated):
    """§18 leaves SERVICE ?var open; this engine documents it unsupported:
    non-silent raises, SILENT degrades to the unit solution."""
    with pytest.raises(ValueError, match="variable target"):
        federated.sparql(
            "PREFIX ex: <http://f#> SELECT ?p WHERE { "
            "?p ex:worksAt ?f . SERVICE ?ep { ?f ex:city ?c } }"
        )
    rows = federated.sparql_collect(
        "PREFIX ex: <http://f#> SELECT ?p WHERE { "
        "?p ex:worksAt ?f . SERVICE SILENT ?ep { ?f ex:city ?c } }"
    )
    assert len(rows) == 3
