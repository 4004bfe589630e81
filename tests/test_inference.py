"""Per-rule RDFS-Plus materializer tests (SURVEY.md §5 item 6): hand-built
micro-ontologies, exact expected inferred-triple sets. Mirrors the reference's
rdfsplus-optimized ruleset semantics (init-graphdb.sh:51-55)."""

from __future__ import annotations

import pytest

from dublin_smart_city_graphdb_spark.engine import Engine
from dublin_smart_city_graphdb_spark.inference.rdfsplus import materialize
from dublin_smart_city_graphdb_spark.model.schema import INFERRED_GRAPH

P = """
@prefix ex: <http://t#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
"""

T = "http://t#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"


def infer(spark, ttl: str) -> set[tuple[str, str, str]]:
    eng = Engine(spark)
    repo = eng.create_repository(f"inf_{abs(hash(ttl)) % 10**8}", ruleset="none")
    repo.load_turtle(P + ttl)
    inferred = materialize(repo.quads)
    return {(r.s, r.p, r.o_lex) for r in inferred.collect()}


def test_domain_range(spark):
    got = infer(spark, """
        ex:hasType rdfs:domain ex:Facility ; rdfs:range ex:FacilityType .
        ex:f1 ex:hasType ex:Park .
    """)
    assert (T + "f1", RDF_TYPE, T + "Facility") in got
    assert (T + "Park", RDF_TYPE, T + "FacilityType") in got


def test_subclass_transitivity_and_inheritance(spark):
    got = infer(spark, """
        ex:Park rdfs:subClassOf ex:GreenSpace .
        ex:GreenSpace rdfs:subClassOf ex:Amenity .
        ex:p1 a ex:Park .
    """)
    assert (T + "Park", SUBCLASS, T + "Amenity") in got        # rdfs11
    assert (T + "p1", RDF_TYPE, T + "GreenSpace") in got       # rdfs9
    assert (T + "p1", RDF_TYPE, T + "Amenity") in got          # rdfs9 via closure


def test_subproperty(spark):
    got = infer(spark, """
        ex:manages rdfs:subPropertyOf ex:oversees .
        ex:oversees rdfs:subPropertyOf ex:relatedTo .
        ex:a ex:manages ex:b .
    """)
    assert (T + "a", T + "oversees", T + "b") in got           # rdfs7
    assert (T + "a", T + "relatedTo", T + "b") in got          # rdfs5+7


def test_inverse_and_symmetric(spark):
    got = infer(spark, """
        ex:contains owl:inverseOf ex:within .
        ex:adjacentTo a owl:SymmetricProperty .
        ex:area ex:contains ex:park .
        ex:x ex:adjacentTo ex:y .
    """)
    assert (T + "park", T + "within", T + "area") in got
    assert (T + "y", T + "adjacentTo", T + "x") in got


def test_transitive_property_closure(spark):
    got = infer(spark, """
        ex:partOf a owl:TransitiveProperty .
        ex:a ex:partOf ex:b . ex:b ex:partOf ex:c . ex:c ex:partOf ex:d .
    """)
    assert (T + "a", T + "partOf", T + "c") in got
    assert (T + "a", T + "partOf", T + "d") in got
    assert (T + "b", T + "partOf", T + "d") in got


def test_sameas_symmetry_transitivity_propagation(spark):
    got = infer(spark, """
        ex:a owl:sameAs ex:b . ex:b owl:sameAs ex:c .
        ex:a ex:name "x" .
    """)
    assert (T + "b", SAME_AS, T + "a") in got
    assert (T + "a", SAME_AS, T + "c") in got
    assert (T + "b", T + "name", "x") in got                   # stmt propagation
    assert (T + "c", T + "name", "x") in got


def test_functional_property_smushing(spark):
    got = infer(spark, """
        ex:hasID a owl:FunctionalProperty .
        ex:x ex:hasID ex:id1 . ex:x ex:hasID ex:id2 .
        ex:hasSSN a owl:InverseFunctionalProperty .
        ex:p ex:hasSSN "123" . ex:q ex:hasSSN "123" .
    """)
    assert (T + "id1", SAME_AS, T + "id2") in got
    assert (T + "p", SAME_AS, T + "q") in got


def test_equivalent_class(spark):
    got = infer(spark, """
        ex:Car owl:equivalentClass ex:Automobile .
        ex:v a ex:Car .
    """)
    assert (T + "v", RDF_TYPE, T + "Automobile") in got


def test_fixpoint_terminates_and_tags_graph(spark):
    eng = Engine(spark)
    repo = eng.create_repository("inf_tag", ruleset="none")
    repo.load_turtle(P + """
        ex:hasType rdfs:domain ex:Facility .
        ex:f1 ex:hasType ex:Park .
    """)
    inferred = materialize(repo.quads)
    rows = inferred.collect()
    assert rows and all(r.g == INFERRED_GRAPH for r in rows)


def test_engine_load_with_ruleset_queries_inferred(spark):
    eng = Engine(spark)
    repo = eng.create_repository("inf_e2e", ruleset="rdfsplus")
    repo.load_turtle(P + """
        ex:hasType rdfs:domain ex:Facility .
        ex:f1 ex:hasType ex:Park .
        ex:f2 ex:hasType ex:Library .
    """)
    rows = repo.sparql_collect(
        "SELECT ?f WHERE { ?f a <http://t#Facility> }"
    )
    assert sorted(r["f"].lex for r in rows) == [T + "f1", T + "f2"]


# -- incremental maintenance (engine _ingest path) ---------------------------

def _all_quads(repo):
    return {
        tuple(r)
        for r in repo.quads.select(
            "g", "s", "p", "o_kind", "o_lex", "o_dtype", "o_lang"
        ).distinct().collect()
    }


ONTOLOGY_TTL = """
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://inc#> .
ex:hasType rdfs:domain ex:Thing .
ex:Special rdfs:subClassOf ex:Thing .
"""

BATCH1_TTL = """
@prefix ex: <http://inc#> .
ex:a ex:hasType ex:T1 .
"""

BATCH2_TTL = """
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex: <http://inc#> .
ex:b ex:hasType ex:T2 .
ex:c rdf:type ex:Special .
"""

LATE_SCHEMA_TTL = """
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://inc#> .
ex:Thing rdfs:subClassOf ex:Entity .
"""


def test_incremental_matches_oneshot(spark):
    """Loading in batches (incremental Δ-seeded fixpoints) must yield the
    same closure as loading everything at once (full fixpoint)."""
    from dublin_smart_city_graphdb_spark.engine import Engine

    eng = Engine(spark)
    inc = eng.create_repository("inc_batches", ruleset="rdfsplus")
    inc.load_turtle(ONTOLOGY_TTL)
    inc.load_turtle(BATCH1_TTL)
    inc.load_turtle(BATCH2_TTL)

    one = eng.create_repository("inc_oneshot", ruleset="rdfsplus")
    one.load_turtle(ONTOLOGY_TTL + BATCH1_TTL + BATCH2_TTL)

    assert _all_quads(inc) == _all_quads(one)
    # sanity: the closure actually fired — domain rule typed ex:a
    pairs = {
        (r["s"]["lex"], r["t"]["lex"])
        for r in inc.sparql("SELECT ?s ?t WHERE { ?s a ?t }").collect()
    }
    assert ("http://inc#a", "http://inc#Thing") in pairs
    assert ("http://inc#c", "http://inc#Thing") in pairs  # subClassOf


def test_incremental_late_schema_refires_on_old_data(spark):
    """A Δ that adds SCHEMA (new subClassOf) must re-fire rules over OLD
    statements (the _touches_schema full-round fallback): ex:a, typed
    ex:Thing long before, gains ex:Entity."""
    from dublin_smart_city_graphdb_spark.engine import Engine

    eng = Engine(spark)
    r = eng.create_repository("inc_late_schema", ruleset="rdfsplus")
    r.load_turtle(ONTOLOGY_TTL)
    r.load_turtle(BATCH1_TTL)
    r.load_turtle(LATE_SCHEMA_TTL)

    got = {
        (row["s"]["lex"], row["t"]["lex"])
        for row in r.sparql("SELECT ?s ?t WHERE { ?s a ?t }").collect()
    }
    assert ("http://inc#a", "http://inc#Entity") in got

    one = eng.create_repository("inc_late_oneshot", ruleset="rdfsplus")
    one.load_turtle(ONTOLOGY_TTL + BATCH1_TTL + LATE_SCHEMA_TTL)
    assert _all_quads(r) == _all_quads(one)


def test_broadcast_schema_path_matches_literal_path(spark, monkeypatch):
    """Schema tables above SPARK_GRAFT_SCHEMA_LIT_MAX join as broadcast
    frames instead of inlining as literals; both paths derive the same
    closure, for every rule family."""
    from dublin_smart_city_graphdb_spark.inference import rdfsplus

    ttl = """
        ex:p rdfs:subPropertyOf ex:q . ex:q rdfs:subPropertyOf ex:r .
        ex:A rdfs:subClassOf ex:B . ex:B rdfs:subClassOf ex:C .
        ex:p rdfs:domain ex:A . ex:p rdfs:range ex:D .
        ex:p owl:inverseOf ex:pinv . ex:q owl:equivalentProperty ex:q2 .
        ex:D owl:equivalentClass ex:E .
        ex:sym a owl:SymmetricProperty . ex:tr a owl:TransitiveProperty .
        ex:fun a owl:FunctionalProperty .
        ex:ifun a owl:InverseFunctionalProperty .
        ex:x ex:p ex:y . ex:x ex:sym ex:z .
        ex:a ex:tr ex:b . ex:b ex:tr ex:c . ex:c ex:tr ex:d .
        ex:m ex:fun ex:n1 . ex:m ex:fun ex:n2 .
        ex:k1 ex:ifun ex:v . ex:k2 ex:ifun ex:v .
        ex:y owl:sameAs ex:y2 .
    """
    literal = infer(spark, ttl)
    monkeypatch.setattr(rdfsplus, "_SCHEMA_LIT_MAX", 0)
    assert infer(spark, ttl + "\n") == literal
    assert (T + "x", RDF_TYPE, T + "C") in literal
    assert (T + "a", T + "tr", T + "d") in literal
