"""SQL-text term structs (sparql/termcol.py): every constant goes through
``sql_lit``, which must carry ANY text into Spark unchanged whatever the
parser's string-literal mode, and typed constants must keep the values
the Column API gave them."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dublin_smart_city_graphdb_spark.model.terms import XSD, IRI, Literal
from dublin_smart_city_graphdb_spark.sparql.termcol import (
    const_struct,
    object_const_filter,
    sql_lit,
)

ESCAPED = "spark.sql.parser.escapedStringLiterals"

# the characters that break naive quoting, mixed into arbitrary text
_HOSTILE = st.sampled_from(
    ["'", "\\", "\n", "\x00", "\U0001F600", "${", '"', "`", "\\'", "%", "\t"]
)
text = st.lists(
    st.one_of(_HOSTILE, st.characters(blacklist_categories=("Cs",))),
    max_size=12,
).map("".join)


@pytest.fixture(params=["false", "true"])
def literal_mode(spark, request):
    before = spark.conf.get(ESCAPED)
    spark.conf.set(ESCAPED, request.param)
    yield spark
    spark.conf.set(ESCAPED, before)


def _object_row(spark, kind, lex, dtype, lang):
    return spark.createDataFrame(
        [(kind, lex, dtype, lang)],
        "o_kind tinyint, o_lex string, o_dtype string, o_lang string",
    )


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(s=text, lang=st.sampled_from([None, "en", "ga-IE"]))
def test_text_round_trips(literal_mode, s, lang):
    spark = literal_mode
    iri, lit = IRI("urn:x:" + s), Literal(s, lang=lang)
    row = spark.range(1).selectExpr(
        f"{const_struct(iri)} AS i", f"{const_struct(lit)} AS l",
        f"{sql_lit(s)} AS raw",
    ).collect()[0]
    assert row["raw"] == s
    assert (row["i"]["kind"], row["i"]["lex"]) == (0, "urn:x:" + s)
    assert (row["l"]["lex"], row["l"]["lang"]) == (s, lang)
    # the constant-object filter matches the stored term and nothing else
    stored = _object_row(spark, 2, s, None, lang)
    assert stored.filter(object_const_filter(lit)).count() == 1
    assert stored.filter(object_const_filter(Literal(s + "x"))).count() == 0
    stored = _object_row(spark, 0, "urn:x:" + s, None, None)
    assert stored.filter(object_const_filter(iri)).count() == 1


def test_typed_constants_keep_their_values(spark):
    """Decimal, dateTime and boolean shadow fields: the values the
    Column API (``F.lit``) gave them."""
    cases = {
        "dec": Literal("-6.2700005", XSD + "decimal"),
        "int": Literal("42", XSD + "integer"),
        "dbl": Literal("1e2", XSD + "double"),
        "big": Literal("0.123456789012", XSD + "decimal"),
        "ts": Literal("2024-03-01T12:30:45.5Z", XSD + "dateTime"),
        "tz": Literal("1969-12-31T23:00:00-05:00", XSD + "dateTime"),
        "day": Literal("2024-02-29", XSD + "date"),
        "yes": Literal("true", XSD + "boolean"),
        "no": Literal("0", XSD + "boolean"),
    }
    row = spark.range(1).selectExpr(
        *[f"{const_struct(t)} AS {k}" for k, t in cases.items()]
    ).collect()[0]
    utc = dt.timezone.utc
    assert row["dec"]["num"] == Decimal("-6.2700005000")
    assert row["int"]["num"] == Decimal(42)
    assert row["dbl"]["num"] == Decimal(100)
    assert row["big"]["num"] == Decimal("0.1234567890")
    as_utc = {k: row[k]["ts"].astimezone(utc) for k in ("ts", "tz", "day")}
    assert as_utc["ts"] == dt.datetime(2024, 3, 1, 12, 30, 45, 500000, utc)
    assert as_utc["tz"] == dt.datetime(1970, 1, 1, 4, 0, 0, 0, utc)
    assert as_utc["day"] == dt.datetime(2024, 2, 29, tzinfo=utc)
    assert (row["yes"]["bool"], row["no"]["bool"]) == (True, False)
    assert row["dec"]["dtype"] == XSD + "decimal"
    assert row["yes"]["num"] is None and row["yes"]["ts"] is None
