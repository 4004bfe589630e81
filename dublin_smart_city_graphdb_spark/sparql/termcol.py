"""Term-struct column helpers: every SPARQL variable is carried through the
compiled DataFrame plan as one struct column (kind, lex, dtype, lang, num,
ts, bool) — model/schema.py TERM_FIELDS.

Term identity = (kind, lex, dtype, lang); the shadow fields are derived from
(lex, dtype) at load, so whole-struct equality (verified: Spark struct
equality is null-safe per field) is exactly RDF term identity — one narrow
join key per shared variable, JVM-side.

How an expression is built depends on its operands:

- Operands that are column NAMES or CONSTANTS become SQL text. The scan
  helpers (``subject_struct``, ``object_struct``, ``const_struct``,
  ``null_struct``, ``object_const_filter``) return one SQL string, and
  the caller hands it to the JVM once, at its DataFrame operator
  (``selectExpr``, ``filter(str)`` or ``F.expr``). Every constant in that
  text is rendered by ``sql_lit``, the one quoting helper.
- Operands that are computed Columns stay on the Column API (``_struct``,
  the ``make_*`` constructors, ``ebv``, ``sort_keys``).

The reason is round trips: through Py4J every Column-API node (each
``F.lit``, ``.cast``, ``.alias``, ``F.when``) is one call into the JVM,
and a single term struct over a column name is a few hundred of them,
while a SQL string costs one call however large it is.
"""

from __future__ import annotations

import calendar
import datetime as _dt
from decimal import Decimal

import pyspark.sql.functions as F
from pyspark.sql import Column

from dublin_smart_city_graphdb_spark.model.schema import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    KIND_TRIPLE,
)
from dublin_smart_city_graphdb_spark.model.terms import (
    XSD,
    BNode,
    IRI,
    Literal,
    QuotedTriple,
    Term,
)

_DEC = "decimal(38,10)"


# -- SQL text: names and constants --------------------------------------------

def sql_lit(v) -> str:
    """A Python constant as Spark SQL text — the one quoting helper.

    Strings travel as hex-encoded UTF-8 (``CAST(X'…' AS STRING)``): the
    text cannot break out of its literal and does not depend on
    ``spark.sql.parser.escapedStringLiterals``; Catalyst folds the cast
    to a plain string literal, so the comparison still reaches parquet
    as a pushed filter. Decimals keep their exact precision and scale
    (the type ``F.lit`` gives them; a non-finite value is NULL, a SPARQL
    error). Timestamps are the instant in epoch microseconds (naive
    values read as UTC)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        if not v.is_finite():
            return "NULL"
        text = format(v, "f")
        digits = text.lstrip("-").replace(".", "").lstrip("0") or "0"
        scale = len(text.partition(".")[2])
        prec = max(len(digits), scale, 1)
        return f"CAST('{text}' AS DECIMAL({min(prec, 38)},{min(scale, 38)}))"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        micros = calendar.timegm(v.utctimetuple()) * 1_000_000 + v.microsecond
        return f"timestamp_micros({micros})"
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def sql_col(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_struct(kind: str, lex: str, dtype: str = "NULL",
                lang: str = "NULL", num: str = "NULL", ts: str = "NULL",
                boolean: str = "NULL") -> str:
    """The term struct over SQL-text fields (omitted fields are NULL)."""
    return (
        f"struct(CAST({kind} AS TINYINT) AS kind, CAST({lex} AS STRING) AS lex, "
        f"CAST({dtype} AS STRING) AS dtype, CAST({lang} AS STRING) AS lang, "
        f"CAST({num} AS DECIMAL(38,10)) AS num, "
        f"CAST({ts} AS TIMESTAMP) AS ts, CAST({boolean} AS BOOLEAN) AS bool)"
    )


def subject_struct(name: str) -> str:
    """Term struct of an s/p/g column: IRIs, blank labels (``_:``) or —
    RDF-star — quoted-triple text (``<< ``)."""
    c = sql_col(name)
    kind = (
        f"CASE WHEN startswith({c}, {sql_lit('_:')}) THEN {KIND_BLANK} "
        f"WHEN startswith({c}, {sql_lit('<< ')}) THEN {KIND_TRIPLE} "
        f"ELSE {KIND_IRI} END"
    )
    return _sql_struct(kind, c)


def object_struct() -> str:
    """Term struct of a quads row's object columns."""
    return _sql_struct(*(
        sql_col("o_" + f)
        for f in ("kind", "lex", "dtype", "lang", "num", "ts", "bool")
    ))


def const_struct(term: Term) -> str:
    if isinstance(term, QuotedTriple):
        return _sql_struct(str(KIND_TRIPLE), sql_lit(str(term)))
    if isinstance(term, IRI):
        return _sql_struct(str(KIND_IRI), sql_lit(term.value))
    if isinstance(term, BNode):
        return _sql_struct(str(KIND_BLANK), sql_lit(f"_:{term.label}"))
    lit: Literal = term
    return _sql_struct(
        str(KIND_LITERAL), sql_lit(lit.lex), sql_lit(lit.datatype),
        sql_lit(lit.lang), sql_lit(lit.numeric_value()),
        sql_lit(lit.timestamp_value()), sql_lit(lit.boolean_value()),
    )


def null_struct() -> str:
    return _sql_struct("NULL", "NULL")


def object_const_filter(term: Term, struct_col: str | None = None) -> str:
    """Constant-object pattern match as PER-COLUMN predicates on the quads
    table (term identity = kind+lex+dtype+lang). Column-wise comparisons
    reach the parquet scan as pushed filters with row-group min/max pruning;
    a whole-struct equality would not push down. With ``struct_col`` the
    fields of that term-struct column are matched instead."""
    def field(f: str) -> str:
        if struct_col is None:
            return sql_col("o_" + f)
        return f"{sql_col(struct_col)}.{f}"

    if isinstance(term, QuotedTriple):
        kind, lex = KIND_TRIPLE, str(term)
    elif isinstance(term, IRI):
        kind, lex = KIND_IRI, term.value
    elif isinstance(term, BNode):
        kind, lex = KIND_BLANK, f"_:{term.label}"
    else:
        kind, lex = KIND_LITERAL, term.lex
    cond = f"{field('kind')} = {kind} AND {field('lex')} = {sql_lit(lex)}"
    if kind == KIND_LITERAL:
        for f, v in (("dtype", term.datatype), ("lang", term.lang)):
            cond += f" AND {field(f)} = {sql_lit(v)}" if v else (
                f" AND {field(f)} IS NULL"
            )
    return f"({cond})"


# -- Column API: computed operands --------------------------------------------

def _struct(kind, lex, dtype=None, lang=None, num=None, ts=None,
            boolean=None) -> Column:
    """The term struct over computed Columns (omitted fields are NULL)."""
    def c(v):
        return F.lit(None) if v is None else v

    return F.struct(
        c(kind).cast("tinyint").alias("kind"),
        c(lex).cast("string").alias("lex"),
        c(dtype).cast("string").alias("dtype"),
        c(lang).cast("string").alias("lang"),
        c(num).cast(_DEC).alias("num"),
        c(ts).cast("timestamp").alias("ts"),
        c(boolean).cast("boolean").alias("bool"),
    )


# -- constructors from computed values --------------------------------------

def make_numeric(col: Column, dtype: str = XSD + "decimal") -> Column:
    """Numeric result → typed literal struct (lex mirrors the value).
    Decimal lexical forms are canonical xsd:decimal: trailing zeros trimmed,
    one fractional digit kept ("2.0", "3.5" — not "3.5000000000")."""
    if dtype == XSD + "integer":
        lex = col.cast("decimal(38,0)").cast("string")
    else:
        lex = col.cast("string")
        lex = F.regexp_replace(lex, r"(\.\d*?)0+$", r"$1")
        lex = F.regexp_replace(lex, r"\.$", ".0")
    return _struct(
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(KIND_LITERAL)),
        lex,
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(dtype)),
        num=col,
    )


def make_string(col: Column) -> Column:
    return _struct(
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(KIND_LITERAL)),
        col,
    )


def make_bool(col: Column) -> Column:
    """Boolean result → xsd:boolean struct.

    The struct refers to ``col`` six times, so a large boolean kernel
    (a geo predicate) would be embedded six times in the plan. The
    returned Column therefore carries ``col`` as ``__raw_bool__``, and
    ``ebv`` answers with it directly: ``ebv(make_bool(c)) ≡ c`` for every
    nullable boolean ``c`` (non-null ``c`` is the ``bool`` field; null
    ``c`` nulls every field, and ebv of that struct is null)."""
    # Null input = SPARQL error: EVERY field must stay null — a bare
    # .otherwise() would stamp lex "false" / num 0 onto error structs,
    # which ebv() then misreads as a bound false (caught by the W3C
    # slice's IF-error case).
    out = _struct(
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(KIND_LITERAL)),
        F.when(col, F.lit("true")).when(~col, F.lit("false")),
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(XSD + "boolean")),
        num=F.when(col, F.lit(1)).when(~col, F.lit(0)).cast(_DEC),
        boolean=col,
    )
    out.__raw_bool__ = col
    return out


def make_iri(col: Column) -> Column:
    return _struct(
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(KIND_IRI)),
        col,
    )


def make_ts(col: Column) -> Column:
    return _struct(
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(KIND_LITERAL)),
        F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss"),
        F.when(col.isNull(), F.lit(None)).otherwise(F.lit(XSD + "dateTime")),
        ts=col,
    )


# -- accessors ---------------------------------------------------------------

def ebv(term: Column) -> Column:
    """SPARQL effective boolean value; null = type error (row dropped by
    FILTER, which is exactly SPARQL's error semantics). A ``make_bool``
    result answers with the boolean it was built from (see there)."""
    raw = getattr(term, "__raw_bool__", None)
    if raw is not None:
        return raw
    return (
        F.when(term.isNull(), F.lit(None).cast("boolean"))
        .when(term["bool"].isNotNull(), term["bool"])
        .when(term["num"].isNotNull(), term["num"] != 0)
        .when(
            (term["kind"] == KIND_LITERAL)
            & (term["dtype"].isNull() | (term["dtype"] == XSD + "string")),
            F.length(term["lex"]) > 0,
        )
        .otherwise(F.lit(None).cast("boolean"))
    )


def sort_keys(term: Column) -> list[Column]:
    """RDF term total order (SURVEY §2.5 M2): unbound < blank < IRI <
    literal; literals by numeric/temporal/lexical value."""
    rank = (
        F.when(term.isNull() | term["kind"].isNull(), 0)
        .when(term["kind"] == KIND_BLANK, 1)
        .when(term["kind"] == KIND_IRI, 2)
        .otherwise(3)
    )
    return [rank, term["num"], term["ts"], term["bool"].cast("int"), term["lex"]]


# -- RDF-star (quoted triples as terms) --------------------------------------

def quoted_component(col: Column, k: int) -> Column:
    """Extract component k (1=subject, 2=predicate, 3=object) of a quoted
    triple's canonical text — nesting-aware (round 9: the old regex
    required a whitespace-free subject, so SUBJECT() of a NESTED quoted
    subject like ``<< << :a :p :b >> :cert 0.9 >>`` failed; found by the
    W3C-star slice). Pure JVM expression: tokenize the inner text on
    single spaces, walk ``<<``/``>>`` depth to find where the subject
    ends (one token, or a balanced block), take the next token as the
    predicate (always IRI/bnode), and rejoin the remainder as the object
    (so literals with spaces and nested quoted objects survive —
    split+join on the same separator is lossless). Known corner: a
    literal whose TEXT contains a lone ``<<``/``>>`` token corrupts the
    depth walk; canonical engine serializations never emit one outside a
    quoted string. Non-quoted input yields '' (the old regex contract)."""
    inner = col.substr(F.lit(4), F.length(col) - 6)
    tokens = F.split(inner, " ")
    delta = lambda t: (  # noqa: E731 — local token weight
        F.when(t == "<<", F.lit(1)).when(t == ">>", F.lit(-1)).otherwise(
            F.lit(0)
        )
    )
    # token count of the subject: 1 for a plain term, else the prefix
    # length where << / >> depth first returns to zero
    subj_n = F.when(F.element_at(tokens, 1) != "<<", F.lit(1)).otherwise(
        F.aggregate(
            tokens,
            F.struct(
                F.lit(0).alias("d"), F.lit(0).alias("i"),
                F.lit(0).alias("n"),
            ),
            lambda acc, t: F.struct(
                (acc["d"] + delta(t)).alias("d"),
                (acc["i"] + 1).alias("i"),
                F.when(
                    (acc["n"] == 0) & ((acc["d"] + delta(t)) == 0),
                    acc["i"] + 1,
                ).otherwise(acc["n"]).alias("n"),
            ),
        )["n"]
    )
    if k == 1:
        out = F.array_join(F.slice(tokens, F.lit(1), subj_n), " ")
    elif k == 2:
        out = F.element_at(tokens, subj_n + 1)
    else:
        out = F.array_join(
            F.slice(
                tokens, subj_n + 2,
                F.greatest(F.lit(0), F.size(tokens) - subj_n - 1),
            ),
            " ",
        )
    return F.when(col.rlike(r"^<< .* >>$"), out).otherwise(F.lit(""))


def nt_text_to_struct(col: Column) -> Column:
    """Canonical N-Triples(-star) component text → term struct: the inverse
    of the quoted serialization, entirely JVM expression code. Rebuilds the
    numeric/temporal/boolean shadow fields for typed literals so extracted
    components compare by VALUE like any loaded term."""
    is_iri = col.startswith("<")
    is_bn = col.startswith("_:")
    is_qt = col.startswith("<< ")
    is_lit = col.startswith('"')
    lex_raw = F.regexp_extract(col, r'^"((?:[^"\\]|\\.)*)"', 1)
    # unescape \" \n \r \t then \\ (order matters: backslash last)
    lex = F.regexp_replace(lex_raw, r'\\"', '"')
    lex = F.regexp_replace(lex, r"\\n", "\n")
    lex = F.regexp_replace(lex, r"\\r", "\r")
    lex = F.regexp_replace(lex, r"\\t", "\t")
    lex = F.regexp_replace(lex, r"\\\\", r"\\")
    lang = F.nullif(F.regexp_extract(col, r'"@([A-Za-z][A-Za-z0-9-]*)$', 1), F.lit(""))
    dtype = F.nullif(F.regexp_extract(col, r"\^\^<([^>]*)>$", 1), F.lit(""))
    num = F.when(
        dtype.isin(
            XSD + "integer", XSD + "decimal", XSD + "double", XSD + "float",
            XSD + "int", XSD + "long",
        ),
        lex.try_cast(_DEC),
    )
    ts = F.when(dtype == XSD + "dateTime", lex.try_cast("timestamp"))
    b = F.when(dtype == XSD + "boolean", lex.try_cast("boolean"))
    kind = (
        F.when(col.isNull() | (col == ""), F.lit(None).cast("tinyint"))
        .when(is_qt, F.lit(KIND_TRIPLE))
        .when(is_iri, F.lit(KIND_IRI))
        .when(is_bn, F.lit(KIND_BLANK))
        .otherwise(F.lit(KIND_LITERAL))
    )
    out_lex = (
        F.when(is_qt, col)
        .when(is_iri, F.regexp_replace(col, r"^<|>$", ""))
        .when(is_bn, col)
        .otherwise(lex)
    )
    return _struct(
        kind, out_lex,
        F.when(is_lit, dtype),
        F.when(is_lit, lang),
        F.when(is_lit, num).otherwise(F.lit(None)),
        F.when(is_lit, ts).otherwise(F.lit(None)),
        F.when(is_lit, b).otherwise(F.lit(None)),
    )
