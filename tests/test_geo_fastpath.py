"""Geo FILTERs without the DE-9IM escape when the snapshot cannot need it.

A boolean kernel filters on its raw boolean (termcol.make_bool/ebv), and
``_sf_predicate`` decides its Python-UDF escape at plan time: a constant
operand is tested in Python ``re``, a scan-bound variable by the
snapshot's ``wkt_escape_free`` flag kept with the predicate stats.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pytest

from dublin_smart_city_graphdb_spark import fixtures
from dublin_smart_city_graphdb_spark.engine import Engine
from dublin_smart_city_graphdb_spark.geo.boolops import named_predicate
from dublin_smart_city_graphdb_spark.sources.turtle import parse_turtle
from dublin_smart_city_graphdb_spark.sparql import extensions as X
from dublin_smart_city_graphdb_spark.sparql.termcol import sql_lit
from perfbench.sparql_load import (
    PROLOG,
    FacilityModel,
    ParamSource,
    check,
)

GEO = "http://www.opengis.net/ont/geosparql#"
LINE = "LINESTRING(-6.26 53.35, -6.255 53.355)"
MIXED = "GEOMETRYCOLLECTION(POINT(-6.26 53.35), LINESTRING(0 0, 1 1))"
SHAPED = [
    LINE, MIXED, "POINT EMPTY", " <http://www.opengis.net/def/crs/OGC/1.3/CRS84> "
    "MULTILINESTRING((0 0, 1 1))", "geometrycollection (point (1 2))",
]
PLAIN = [
    "POINT(-6.26 53.35)", "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
    "MULTIPOINT((1 1), (2 2))", "GEOMETRYCOLLECTION(POLYGON((0 0, 1 0, 1 1, 0 0)))",
    "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0)))", "http://example.org/LINESTRINGS",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def dublin(spark, tmp_path_factory):
    eng = Engine(spark, warehouse=str(tmp_path_factory.mktemp("geofast")))
    repo = eng.create_repository("geofast", ruleset="rdfsplus")
    ttl = fixtures.full_fixture_ttl(400, seed=11)
    repo.load_turtle_text(ttl)
    model = FacilityModel.from_triples(parse_turtle(ttl))
    yield eng, repo, model
    eng.drop_repository("geofast")


def _sf_within_texts(n: int):
    src = ParamSource(7)
    out = []
    while len(out) < n:
        t, p, text = src.next()
        if t == "sf_within":
            out.append((p, text))
    return out


def test_sf_within_has_no_udf_and_matches_the_model(dublin):
    """(a) no ArrowEvalPython in the executed plan, rows = the oracle."""
    eng, repo, model = dublin
    assert repo.wkt_escape_free()
    for p, text in _sf_within_texts(3):
        df = repo.sparql(text)
        assert "ArrowEvalPython" not in _plan(df)
        body, _ = repo.sparql_serialized(text)
        assert check("sf_within", p, body.encode(), model, 0), text


def _within_rows(repo, poly: str) -> Counter:
    q = PROLOG + (
        "SELECT ?g WHERE { ?g geo:asWKT ?w . "
        f'FILTER(geof:sfWithin(?w, "{poly}"^^geo:wktLiteral)) }}'
    )
    return Counter(b["g"]["value"] for b in
                   json.loads(repo.sparql_serialized(q)[0])["results"]["bindings"])


def test_escape_shaped_literal_brings_the_escape_back(dublin):
    """(b) a LINESTRING and a mixed GEOMETRYCOLLECTION asWKT literal turn
    the flag off; their answers are named_predicate's; deleting them
    turns it back on with the same answers as before."""
    eng, repo, model = dublin
    poly = "POLYGON((-6.3 53.3, -6.2 53.3, -6.2 53.4, -6.3 53.4, -6.3 53.3))"
    before = _within_rows(repo, poly)
    data = (
        f"<urn:g:line> <{GEO}asWKT> \"{LINE}\"^^<{GEO}wktLiteral> .\n"
        f"<urn:g:mixed> <{GEO}asWKT> \"{MIXED}\"^^<{GEO}wktLiteral> .\n"
    )
    repo.update("INSERT DATA { " + data + " }")
    try:
        assert not repo.wkt_escape_free()
        q = PROLOG + (
            "SELECT ?g WHERE { ?g geo:asWKT ?w . "
            f'FILTER(geof:sfWithin(?w, "{poly}"^^geo:wktLiteral)) }}'
        )
        assert "ArrowEvalPython" in _plan(repo.sparql(q))
        got = _within_rows(repo, poly)
        for iri, wkt in (("urn:g:line", LINE), ("urn:g:mixed", MIXED)):
            assert (iri in got) == bool(named_predicate(wkt, poly, "within"))
        assert +(got - Counter({"urn:g:line": 1, "urn:g:mixed": 1})) == before
    finally:
        repo.update("DELETE DATA { " + data + " }")
    assert repo.wkt_escape_free()
    assert _within_rows(repo, poly) == before


@pytest.mark.parametrize("shape", ["BIND", "VALUES"])
def test_computed_linework_operand_escapes(dublin, shape):
    """(c) a BIND- or VALUES-supplied linework operand keeps the escape
    on a clean snapshot, with named_predicate's answer."""
    eng, repo, model = dublin
    assert repo.wkt_escape_free()
    poly = "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"
    line = "LINESTRING(0.5 0.5, 1 1)"
    lit = f'"{line}"^^geo:wktLiteral'
    src = (f"BIND({lit} AS ?w)" if shape == "BIND"
           else f"VALUES ?w {{ {lit} }}")
    q = PROLOG + (
        f"ASK {{ {src} "
        f'FILTER(geof:sfWithin(?w, "{poly}"^^geo:wktLiteral)) }}'
    )
    assert "ArrowEvalPython" in _plan(repo.sparql(q))
    got = repo.sparql(q).collect()[0][0]
    assert got == bool(named_predicate(line, poly, "within"))


def test_pre_flag_stats_file_reads_as_escape_possible(spark, tmp_path):
    """(d) a stats file of the older format (bare counts) reopens as
    "escape possible"; predicate_stats() still gives the true counts."""
    wh = str(tmp_path)
    eng = Engine(spark, warehouse=wh)
    repo = eng.create_repository("oldstats", ruleset="none")
    repo.load_turtle_text(fixtures.full_fixture_ttl(20, seed=3))
    counts = repo.predicate_stats()
    assert repo.wkt_escape_free()
    path = os.path.join(wh, "oldstats", "quads", "_predicate_stats.json")
    with open(path, "w") as f:
        json.dump(counts, f)
    reopened = Engine(spark, warehouse=wh).repository("oldstats")
    assert reopened.predicate_stats() == counts
    assert not reopened.wkt_escape_free()
    eng.drop_repository("oldstats")


def test_python_re_agrees_with_rlike(spark):
    """(e) the plan-time test (Python ``re``) and Spark ``rlike`` agree on
    the escape patterns over WKT constants of the geo suites."""
    from tests import test_geo_boolops, test_geo_sf

    corpus = set(SHAPED + PLAIN)
    for mod in (test_geo_sf, test_geo_boolops):
        corpus.update(v for v in vars(mod).values()
                      if isinstance(v, str) and re.match(r"\s*[A-Z<]", v))
    corpus = sorted(corpus)
    pats = [X._WKT_EMPTY, X._WKT_MIXED_GC, X._WKT_LINEY, X.WKT_ESCAPE_SHAPE]
    df = spark.createDataFrame([(c,) for c in corpus], "w string")
    rows = df.selectExpr(
        "w", *[f"w rlike {sql_lit(p)} AS m{i}" for i, p in enumerate(pats)]
    ).collect()
    for r in rows:
        py = [re.search(p, r["w"], re.ASCII) is not None for p in pats]
        assert py == [r[f"m{i}"] for i in range(len(pats))], r["w"]
        assert py[3] == any(py[:3]), r["w"]
    assert any(r["m3"] for r in rows) and not all(r["m3"] for r in rows)


def _bool_ext_iris():
    return sorted(
        iri for iri in X.default_extensions()
        if iri.startswith(X.GEOF) and any(
            k in iri for k in ("#sf", "/sf", "/eh", "/rcc8")
        )
    )


def test_raw_boolean_filter_equals_struct_filter(dublin):
    """(f) ``FILTER(f(a, b))`` (raw boolean) and ``FILTER(f(a, b) = true)``
    (term struct) keep the same rows for every binary boolean geo
    extension, over shaped, plain and unbound operands."""
    eng, repo, model = dublin
    vals = " ".join(f'("{w}"^^geo:wktLiteral)' for w in SHAPED + PLAIN)
    vals += " (UNDEF) (\"not wkt\")"
    for iri in _bool_ext_iris():
        qs = [
            PROLOG + (
                f"SELECT ?a ?b WHERE {{ VALUES (?a) {{ {vals} }} "
                f"VALUES (?b) {{ {vals} }} FILTER(<{iri}>(?a, ?b){tail}) }}"
            )
            for tail in ("", " = true")
        ]
        raw, struct = (
            sorted((str(r["a"]), str(r["b"])) for r in repo.sparql(q).collect())
            for q in qs
        )
        assert raw == struct, iri
