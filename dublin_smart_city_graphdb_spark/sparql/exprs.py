"""SPARQL expression → Column compiler (SURVEY.md §2.7).

Every expression evaluates to a term-struct Column (termcol.py); FILTER takes
its EBV. SPARQL's eval-error semantics ride on SQL NULL: an erroring
(sub)expression yields a null struct, ``F.when`` chains propagate it, and
FILTER drops null-EBV rows — matching the spec's error→false-in-FILTER rule
without any Python in the hot path. All functions compile to JVM builtins;
none are Python UDFs.
"""

from __future__ import annotations

import operator
from decimal import Decimal

import pyspark.sql.functions as F
from pyspark.sql import Column

from dublin_smart_city_graphdb_spark.model.schema import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    KIND_TRIPLE,
)
from dublin_smart_city_graphdb_spark.model.terms import XSD, Literal
from dublin_smart_city_graphdb_spark.sparql import ast as A
from dublin_smart_city_graphdb_spark.sparql.termcol import (
    _struct,
    const_struct,
    ebv,
    make_bool,
    make_iri,
    make_numeric,
    make_string,
    make_ts,
    null_struct,
)


class ExprError(ValueError):
    pass


def _term_once(term: Column, f) -> Column:
    """Evaluate ``f`` over ``term`` with the term bound ONCE: the struct
    rides through a one-element ``transform`` so every field access in
    ``f``'s result is a lambda-variable read, never a re-evaluation of
    the term's (possibly huge) defining expression."""
    return F.get(F.transform(F.array(term), lambda t: f(t)), 0)


# Matches the dot-segment depth RFC 3986 resolution handles JVM-side; a
# relative reference nesting more than this many ``..`` levels is not
# fully normalized (documented bound — real queries use 1-2).
_DOT_SEGMENT_PASSES = 8


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 remove_dot_segments as iterated JVM regexp passes
    (bounded at ``_DOT_SEGMENT_PASSES`` nesting levels, no Python UDF)."""
    # "." segments: interior "/./" collapses, trailing "/." keeps the slash
    path = F.regexp_replace(path, r"/\.(?=/)", "")
    path = F.regexp_replace(path, r"/\.$", "/")
    # "seg/.." pairs, innermost-first, one nesting level per pass; the
    # consumed segment must not itself be ".."
    for _ in range(_DOT_SEGMENT_PASSES):
        path = F.regexp_replace(path, r"/(?!\.\.(?:/|$))[^/]+/\.\.(?=/)", "")
        path = F.regexp_replace(path, r"/(?!\.\.(?:/|$))[^/]+/\.\.$", "/")
    # leading "../" segments that climb past the root are dropped (§5.2.4
    # step 2C pops an empty output stack)
    path = F.regexp_replace(path, r"^(/\.\.)+(?=/|$)", "")
    path = F.regexp_replace(path, r"^(\.\./|\./)+", "")
    return F.when(path == "", F.lit("/")).otherwise(path)


def _resolve_against_base(ref: Column, base: str) -> Column:
    """RFC 3986 §5.2.2 reference resolution of a (column-valued) relative
    reference against the compile-time-constant query BASE. All JVM-side:
    the base's components are Python-precomputed, the reference is
    classified with cheap prefix tests, and merge + dot-segment removal
    run as regexp passes. Mirrors the reference engine's RDF4J
    ``ParsedIRI.resolve`` for the cases a bounded regex pipeline can
    express (ADVICE r4)."""
    import re as _re

    m = _re.match(
        r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*):"
        r"(?P<auth>//[^/?#]*)?(?P<path>[^?#]*)(?:\?(?P<query>[^#]*))?",
        base,
    )
    if m is None:
        # base itself is not an absolute IRI: keep the legacy concat
        # behavior rather than guessing components
        return F.when(
            F.regexp_like(ref, F.lit(r"^[A-Za-z][A-Za-z0-9+.-]*:")), ref
        ).otherwise(F.concat(F.lit(base), ref))
    scheme, auth, path = m["scheme"], m["auth"] or "", m["path"]
    query = m["query"]
    pre = scheme + ":" + auth
    base_no_frag = pre + path + ("?" + query if query is not None else "")
    # §5.2.3 merge: base-with-authority-and-empty-path ⇒ "/" + ref, else
    # base path up to (and including) its last "/"
    if auth and not path:
        base_dir = "/"
    else:
        base_dir = path[: path.rfind("/") + 1] if "/" in path else ""
    ref_path = F.element_at(F.split(ref, r"[?#]", 2), 1)
    ref_tail = F.substring(ref, F.length(ref_path) + 1, F.lit(1 << 20))
    return (
        F.when(F.regexp_like(ref, F.lit(r"^[A-Za-z][A-Za-z0-9+.-]*:")), ref)
        .when(ref.startswith("//"), F.concat(F.lit(scheme + ":"), ref))
        .when(ref == "", F.lit(base_no_frag))
        .when(ref.startswith("#"), F.concat(F.lit(base_no_frag), ref))
        .when(ref.startswith("?"), F.concat(F.lit(pre + path), ref))
        .when(
            ref.startswith("/"),
            F.concat(F.lit(pre), _remove_dot_segments(ref_path), ref_tail),
        )
        .otherwise(
            F.concat(
                F.lit(pre),
                _remove_dot_segments(
                    F.concat(F.lit(base_dir), ref_path)
                ),
                ref_tail,
            )
        )
    )


def _str_like(src: Column, out: Column) -> Column:
    """String-function result: ``out``'s lexical form carrying ``src``'s
    language tag / xsd:string datatype (§17.4.3 'a string literal ... whose
    language tag and datatype are those of the first argument')."""
    return _struct(
        F.when(out.isNull(), F.lit(None)).otherwise(F.lit(KIND_LITERAL)),
        out,
        F.when(
            out.isNotNull() & src["dtype"].eqNullSafe(F.lit(XSD + "string")),
            F.lit(XSD + "string"),
        ),
        F.when(out.isNotNull(), src["lang"]),
    )


def _lang_compat(a: Column, b: Column) -> Column:
    """§17.4.3.1.1 argument compatibility: the second argument must be a
    simple/xsd:string literal or carry the SAME language tag as the first —
    e.g. CONTAINS("abc"@en, "b"@cy) is an error."""
    return b["lang"].isNull() | b["lang"].eqNullSafe(a["lang"])


def _num(t: Column) -> Column:
    return t["num"]


# -- XSD constructor casts (§17.5 XPath constructor functions) ---------------

_XSD_CASTS = {
    XSD + n
    for n in ("integer", "decimal", "double", "float", "string", "boolean",
              "dateTime")
}

_INT_RE = r"^[+-]?[0-9]+$"
_DEC_RE = r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$"
_DBL_RE = r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$"


def _xsd_cast(dtype_iri: str, a: Column) -> Column:
    """XPath casting over the term struct: numeric/boolean/temporal shadow
    values convert directly; string sources must match the target's lexical
    space (else error); IRIs cast only to xsd:string. Doubles ride the
    decimal shadow column, so ±INF/NaN lexicals are unsupported (error) —
    consistent with the engine-wide decimal numeric model."""
    local = dtype_iri.rsplit("#", 1)[-1]
    lex, num, b, ts = _lex(a), _num(a), a["bool"], a["ts"]
    is_str = (a["kind"] == KIND_LITERAL) & (
        a["dtype"].isNull() | (a["dtype"] == XSD + "string")
    )
    if local == "string":
        ok = a["kind"].isNotNull()
        return _struct(
            F.when(ok, F.lit(KIND_LITERAL)),
            F.when(ok, lex),
            F.when(ok, F.lit(XSD + "string")),
        )
    if local == "integer":
        # XPath: numeric → truncate toward zero; boolean → 1/0; string must
        # be a valid integer lexical ("5.3" is an ERROR, not 5)
        val = (
            F.when(num.isNotNull(),
                   F.when(num >= 0, F.floor(num)).otherwise(F.ceil(num)))
            .when(b.isNotNull(), b.cast("int"))
            .when(is_str & lex.rlike(_INT_RE), lex.cast("decimal(38,10)"))
        )
        return make_numeric(val, XSD + "integer")
    if local == "decimal":
        val = (
            F.when(num.isNotNull(), num)
            .when(b.isNotNull(), b.cast("int"))
            .when(is_str & lex.rlike(_DEC_RE), lex.cast("decimal(38,10)"))
        )
        return make_numeric(val)
    if local in ("double", "float"):
        val = (
            F.when(num.isNotNull(), num)
            .when(b.isNotNull(), b.cast("int"))
            .when(
                is_str & lex.rlike(_DBL_RE),
                lex.cast("double").cast("decimal(38,10)"),
            )
        )
        return make_numeric(val, dtype_iri)
    if local == "boolean":
        val = (
            F.when(b.isNotNull(), b)
            .when(num.isNotNull(), num != 0)
            .when(is_str & lex.isin("true", "1"), F.lit(True))
            .when(is_str & lex.isin("false", "0"), F.lit(False))
        )
        return make_bool(val)
    # dateTime
    val = F.when(ts.isNotNull(), ts).when(is_str, lex.try_cast("timestamp"))
    return make_ts(val)


def _regex_with_flags(pat: Column, flags: Column) -> Column:
    """XPath regex flags for REGEX/REPLACE (SPARQL 17.4.3.14): ``s m i
    x`` map to Java inline modifiers; ``q`` quotes the whole pattern
    (every metacharacter escaped) and composes with the others. An
    invalid flag string is a SPARQL error — NULL here, so the operator
    returns error (row dropped) instead of crashing the query the way a
    raw ``(?q)``/``(?)`` prefix crashes the JVM regex compiler."""
    valid = F.regexp_like(flags, F.lit("^[smixq]*$"))
    quoted = F.regexp_replace(
        pat, F.lit(r"([.^$|?*+()\[\]{}\\])"), F.lit(r"\\$1")
    )
    pat = F.when(flags.contains("q"), quoted).otherwise(pat)
    inline = F.regexp_replace(flags, F.lit("q"), F.lit(""))
    pat = F.when(
        F.length(inline) > 0,
        F.concat(F.lit("(?"), inline, F.lit(")"), pat),
    ).otherwise(pat)
    return F.when(valid, pat)


def _lex(t: Column) -> Column:
    return t["lex"]


def _is_str_literal(t: Column) -> Column:
    return (t["kind"] == KIND_LITERAL) & (
        t["dtype"].isNull() | (t["dtype"] == XSD + "string")
    )


def _null_bool() -> Column:
    return F.lit(None).cast("boolean")


def _int_preserving(operand: Column, value: Column) -> Column:
    """SPARQL numeric ops return the operand's type: xsd:integer stays
    integer (ABS/ROUND/CEIL/FLOOR/unary minus, §17.4.4), else decimal."""
    return F.when(
        operand["dtype"] == XSD + "integer",
        make_numeric(value, XSD + "integer"),
    ).otherwise(make_numeric(value))


def term_eq(a: Column, b: Column) -> Column:
    """SPARQL ``=``: numeric value equality when both numeric, timestamp
    equality when both temporal, else RDF term identity; errors → null."""
    return (
        # an ERROR operand is either a null struct (unbound var) or a
        # struct whose kind is null (computed error, e.g. 1/0): both must
        # propagate as error, not compare false via the eqNullSafe legs
        F.when(
            a.isNull() | b.isNull() | a["kind"].isNull() | b["kind"].isNull(),
            _null_bool(),
        )
        .when(_num(a).isNotNull() & _num(b).isNotNull(), _num(a) == _num(b))
        .when(a["ts"].isNotNull() & b["ts"].isNotNull(), a["ts"] == b["ts"])
        .otherwise(
            (a["kind"] == b["kind"])
            & (a["lex"] == b["lex"])
            & a["dtype"].eqNullSafe(b["dtype"])
            & a["lang"].eqNullSafe(b["lang"])
        )
    )


_ORDER_OPS = {
    "<": operator.lt, ">": operator.gt, "<=": operator.le, ">=": operator.ge,
}


def numeric_const(t) -> Decimal | None:
    """The value of a numeric constant operand, or None: a numeric literal
    or the negation of one (the parser reads ``-6.27`` as
    ``UnaryMinus(6.27)``)."""
    if isinstance(t, A.UnaryMinus):
        v = numeric_const(t.inner)
        return None if v is None else -v
    return t.numeric_value() if isinstance(t, Literal) else None


def _cmp(op: str, a: Column, b: Column) -> Column:
    apply = _ORDER_OPS[op]
    return (
        F.when(
            a.isNull() | b.isNull() | a["kind"].isNull() | b["kind"].isNull(),
            _null_bool(),
        )
        .when(_num(a).isNotNull() & _num(b).isNotNull(), apply(_num(a), _num(b)))
        .when(a["ts"].isNotNull() & b["ts"].isNotNull(), apply(a["ts"], b["ts"]))
        .when(a["bool"].isNotNull() & b["bool"].isNotNull(),
              apply(a["bool"].cast("int"), b["bool"].cast("int")))
        .when(
            _is_str_literal(a) & _is_str_literal(b), apply(_lex(a), _lex(b))
        )
        .otherwise(_null_bool())
    )


class ExprCompiler:
    """Compiles AST expressions against a DataFrame whose variable columns
    are term structs. EXISTS/aggregate nodes must have been rewritten by the
    query compiler before reaching here (they need plan context)."""

    def __init__(
        self, var_resolver, in_scope: set[str], extensions=None,
        exists_cols=None, base: str = "", scan_vars: bool = False,
    ):
        self._resolve = var_resolver  # name -> Column (term struct)
        self._scope = in_scope
        # query BASE for IRI()/URI() relative-reference resolution
        self._base = base or ""
        # extension-function registry: IRI -> callable(list[Column]) -> Column
        # (term struct). SURVEY §2.9: gaps get vectorized impls, never
        # row-at-a-time Python in the hot path.
        self._ext = extensions or {}
        # EXISTS nodes inside compound expressions: the query compiler
        # pre-joins each one to a boolean flag column and passes
        # {id(node): column name} — here they read as plain booleans.
        self._exists_cols = exists_cols or {}
        # True when every variable is bound by triple patterns over a
        # snapshot whose term texts hold no geo-escape shape (see
        # QueryCompiler): extension arguments that are bare variables
        # are then tagged ``__geo_scan__``.
        self._scan_vars = scan_vars

    # -- boolean fast path ---------------------------------------------------
    def compile_bool(self, e) -> Column:
        """Compile straight to a BooleanType column (EBV), skipping the
        term-struct round-trip. Critical for FILTER chains: the struct wrap +
        EBV unwrap duplicates the comparison tree ~30× per level, which blows
        up Catalyst analysis on conjunctive filters (the golden bounding-box
        query). Null = SPARQL eval error."""
        if isinstance(e, (A.OrExpr, A.AndExpr)):
            parts = [self.compile_bool(p) for p in e.parts]
            out = parts[0]
            for p in parts[1:]:
                # Spark's 3-valued AND/OR matches SPARQL's error semantics
                out = (out | p) if isinstance(e, A.OrExpr) else (out & p)
            return out
        if isinstance(e, A.NotExpr):
            return ~self.compile_bool(e.inner)
        if isinstance(e, A.ExistsExpr):
            return self._exists_flag(e)
        if isinstance(e, A.FuncCall) and e.name in self._ext:
            # Extension kernels (the geo predicates) can be arbitrarily
            # large expressions wrapped in a term struct. A boolean kernel
            # filters on its raw boolean (make_bool/ebv). Any other
            # result would, read field by field through ebv(), embed one
            # FULL kernel copy per field (trees, not DAGs — interpreted
            # evaluation re-runs each copy per row): bind the struct once
            # through a one-element transform so ebv's reads are leaves.
            t = self._func(e)
            if hasattr(t, "__raw_bool__"):
                return ebv(t)
            return _term_once(t, ebv)
        if isinstance(e, A.Compare):
            if e.op in ("<", ">", "<=", ">="):
                fast = self._fast_range_cmp(e)
                if fast is not None:
                    return fast
            a, b = self.compile(e.left), self.compile(e.right)

            def cmp2(x: Column, y: Column) -> Column:
                if e.op == "=":
                    return term_eq(x, y)
                if e.op == "!=":
                    return ~term_eq(x, y)
                return _cmp(e.op, x, y)

            # an extension-kernel operand (e.g. geof:distance) is read
            # several times by the comparison's type dispatch — bind it
            # once so each read is a leaf, not a kernel re-evaluation
            def is_ext(n):
                return isinstance(n, A.FuncCall) and n.name in self._ext

            if is_ext(e.left) and is_ext(e.right):
                return _term_once(
                    a, lambda t: _term_once(b, lambda u: cmp2(t, u))
                )
            if is_ext(e.left):
                return _term_once(a, lambda t: cmp2(t, b))
            if is_ext(e.right):
                return _term_once(b, lambda u: cmp2(a, u))
            return cmp2(a, b)
        if isinstance(e, A.InExpr):
            # same 3-valued fold as the struct path: TRUE beats error,
            # error beats FALSE (§17.4.1.9 — IN is chained = joined by ||)
            a = self.compile(e.expr)
            any_true = F.lit(False)
            any_err = F.lit(False)
            for opt in e.options:
                eq = term_eq(a, self.compile(opt))
                any_true = any_true | F.coalesce(eq, F.lit(False))
                any_err = any_err | eq.isNull()
            hit = F.when(any_true, F.lit(True)).when(
                any_err, F.lit(None).cast("boolean")
            ).otherwise(F.lit(False))
            return ~hit if e.negated else hit
        return ebv(self.compile(e))

    def _exists_flag(self, e) -> Column:
        name = self._exists_cols.get(id(e))
        if name is None:
            raise ExprError(
                "EXISTS in this expression position was not pre-joined"
            )
        flag = F.coalesce(F.col(name), F.lit(False))
        return ~flag if e.negated else flag

    def _fast_range_cmp(self, e: A.Compare) -> Column | None:
        """var-vs-numeric-constant range comparison as a BARE column
        predicate (``o_num > lit``), not the general CASE WHEN chain.
        Semantically identical for </>/<=/>= — every non-numeric branch of
        the general form yields null (error→dropped), exactly what NULL
        ``num`` gives here — and, unlike CASE WHEN, this shape survives to
        the parquet scan as a pushed row-group filter."""
        lv, rv = numeric_const(e.left), numeric_const(e.right)
        if isinstance(e.left, A.Var) and rv is not None:
            a, b = self.compile(e.left)["num"], F.lit(rv)
        elif lv is not None and isinstance(e.right, A.Var):
            a, b = F.lit(lv), self.compile(e.right)["num"]
        else:
            return None
        return _ORDER_OPS[e.op](a, b)

    # -- dispatch -----------------------------------------------------------
    def compile(self, e) -> Column:
        if isinstance(e, A.Var):
            if e.name not in self._scope:
                # unbound var → error in expressions
                return F.expr(null_struct())
            return self._resolve(e.name)
        if isinstance(e, (A.OrExpr, A.AndExpr, A.NotExpr)):
            return make_bool(self.compile_bool(e))
        if isinstance(e, A.Compare):
            a, b = self.compile(e.left), self.compile(e.right)
            if e.op == "=":
                return make_bool(term_eq(a, b))
            if e.op == "!=":
                return make_bool(~term_eq(a, b))
            return make_bool(_cmp(e.op, a, b))
        if isinstance(e, A.Arith):
            a, b = self.compile(e.left), self.compile(e.right)
            x, y = _num(a), _num(b)
            # try_divide: ÷0 is a SPARQL expression ERROR (null → FILTER
            # drops the row), never a runtime crash — Spark 4 ANSI mode
            # would otherwise abort the whole job on the first zero
            # divisor. (Our arithmetic runs on the decimal shadow column,
            # so decimal semantics — error, not xsd:double's INF — apply.)
            out = {
                "+": operator.add, "-": operator.sub, "*": operator.mul,
                "/": F.try_divide,
            }[e.op](x, y)
            if e.op == "/":
                # SPARQL §17.3: integer ÷ integer yields xsd:decimal
                return make_numeric(out)
            both_int = (a["dtype"] == XSD + "integer") & (
                b["dtype"] == XSD + "integer"
            )
            return F.when(
                both_int, make_numeric(out, XSD + "integer")
            ).otherwise(make_numeric(out))
        if isinstance(e, A.UnaryMinus):
            inner = self.compile(e.inner)
            return _int_preserving(inner, -_num(inner))
        if isinstance(e, A.InExpr):
            # IN ≡ chained = joined by || (§17.4.1.9): TRUE if any option
            # matches, ERROR if none matches but some comparison errored,
            # FALSE only when every comparison is cleanly false. (A plain
            # coalesce-to-false would turn NOT IN errors into kept rows.)
            a = self.compile(e.expr)
            any_true = F.lit(False)
            any_err = F.lit(False)
            for opt in e.options:
                eq = term_eq(a, self.compile(opt))
                any_true = any_true | F.coalesce(eq, F.lit(False))
                any_err = any_err | eq.isNull()
            hit = F.when(any_true, F.lit(True)).when(
                any_err, F.lit(None).cast("boolean")
            ).otherwise(F.lit(False))
            return make_bool(~hit if e.negated else hit)
        if isinstance(e, A.ExistsExpr):
            return make_bool(self._exists_flag(e))
        if isinstance(e, A.FuncCall):
            return self._func(e)
        if hasattr(e, "value") or hasattr(e, "lex") or hasattr(e, "label"):
            return F.expr(const_struct(e))  # IRI / Literal / BNode constant
        raise ExprError(f"unsupported expression node: {type(e).__name__}")

    # -- builtins (SURVEY §2.7) ---------------------------------------------
    def _func(self, e: A.FuncCall) -> Column:  # noqa: C901
        name = e.name
        args = [self.compile(a) for a in e.args]

        if name in self._ext:  # extension function by IRI (SURVEY §2.9)
            # Tag plan-time-constant literal arguments so kernels can
            # fold them in Python (the geo kernels parse constant WKT
            # once at build instead of per row — HOFs never
            # constant-fold), and scan-bound variables so the geo
            # predicates can leave out their DE-9IM escape. The tags ride
            # on the Python Column object; consumers fall back to the
            # generic column path without them.
            for a_ast, a_col in zip(e.args, args):
                lex = getattr(a_ast, "lex", None)
                if isinstance(a_ast, A.Var):
                    if self._scan_vars:
                        a_col.__geo_scan__ = True
                elif isinstance(lex, str):
                    a_col.__geo_const__ = lex
            return self._ext[name](args)

        if name == "BOUND":
            # two unbound encodings exist: a NULL struct (join miss) and a
            # struct literal with null kind (compile-time-unknown var /
            # computed error) — BOUND is false for both
            return make_bool(
                args[0].isNotNull() & args[0]["kind"].isNotNull()
            )
        if name == "COALESCE":
            # SPARQL COALESCE skips *erroring* arguments. Errors are term
            # structs with a null kind (the struct itself is non-null), so
            # F.coalesce would wrongly accept them — test kind explicitly.
            out = F.expr(null_struct())
            for a in reversed(args):
                out = F.when(a["kind"].isNotNull(), a).otherwise(out)
            return out
        if name == "IF":
            c = ebv(args[0])
            return F.when(c, args[1]).when(~c, args[2]).otherwise(F.expr(null_struct()))
        if name == "SAMETERM":
            a, b = args
            return make_bool(
                (a["kind"] == b["kind"]) & (a["lex"] == b["lex"])
                & a["dtype"].eqNullSafe(b["dtype"]) & a["lang"].eqNullSafe(b["lang"])
            )

        if name == "STR":
            # §17.4.2.5: STR takes a literal or an IRI — a blank node
            # argument is a type error, not its label
            return F.when(
                args[0]["kind"] == KIND_BLANK, F.expr(null_struct())
            ).otherwise(make_string(_lex(args[0])))
        if name == "LANG":
            return make_string(F.coalesce(args[0]["lang"], F.lit("")))
        if name == "LANGMATCHES":
            tag, rng = _lex(args[0]), _lex(args[1])
            return make_bool(
                F.when(rng == "*", F.length(tag) > 0)
                .otherwise(
                    (F.lower(tag) == F.lower(rng))
                    | F.lower(tag).startswith(F.concat(F.lower(rng), F.lit("-")))
                )
            )
        if name == "DATATYPE":
            t = args[0]
            return make_iri(
                F.when(t["kind"] != KIND_LITERAL, F.lit(None).cast("string"))
                .when(t["lang"].isNotNull(),
                      F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
                .when(t["dtype"].isNotNull(), t["dtype"])
                .otherwise(F.lit(XSD + "string"))
            )
        if name in ("IRI", "URI"):
            lex = _lex(args[0])
            if self._base:
                # relative reference (no scheme) resolves against the
                # query BASE per RFC 3986 §5.2 (spec §17.4.2.8)
                lex = _resolve_against_base(lex, self._base)
            return make_iri(lex)
        if name == "BNODE":
            lbl = F.concat(F.lit("_:gen"), F.abs(F.hash(F.rand())).cast("string"))
            return _struct(F.lit(KIND_BLANK), lbl)
        if name in ("STRDT", "STRLANG"):
            # spec 17.4.2.8/.9: the first argument must be a SIMPLE literal
            # (no language tag, no datatype beyond xsd:string) — a
            # lang-tagged or otherwise-typed input is a type error
            simple = (
                (args[0]["kind"] == KIND_LITERAL)
                & args[0]["lang"].isNull()
                & (args[0]["dtype"].isNull() | (args[0]["dtype"] == XSD + "string"))
            )
            lex = _lex(args[0])
            if name == "STRDT":
                dt = _lex(args[1])
                num = F.when(
                    dt.isin(*[XSD + t for t in ("integer", "decimal", "double", "float")]),
                    lex.cast("decimal(38,10)"),
                )
                made = _struct(F.lit(KIND_LITERAL), lex, dt, num=num)
            else:
                made = _struct(F.lit(KIND_LITERAL), lex, lang=_lex(args[1]))
            return F.when(simple, made).otherwise(F.expr(null_struct()))
        if name == "UUID":
            return make_iri(F.concat(F.lit("urn:uuid:"), F.uuid()))
        if name == "STRUUID":
            return make_string(F.uuid())
        if name in ("ISIRI", "ISURI"):
            return make_bool(args[0]["kind"] == KIND_IRI)
        if name == "ISBLANK":
            return make_bool(args[0]["kind"] == KIND_BLANK)
        if name == "ISLITERAL":
            return make_bool(args[0]["kind"] == KIND_LITERAL)
        if name == "ISNUMERIC":
            return make_bool(_num(args[0]).isNotNull())

        if name == "STRLEN":
            return make_numeric(F.length(_lex(args[0])), XSD + "integer")
        if name == "SUBSTR":
            # XPath fn:substring position semantics (spec §17.4.3.3): keep
            # the 1-based positions p with round(start) ≤ p < round(start)+
            # len — zero/negative starts clamp to 1 and CONSUME length
            # (SUBSTR("hello",0,3)="he", (-1,3)="h"); they are NOT
            # from-the-end indexing (Spark's native substr convention).
            s = _lex(args[0])
            start = F.round(_num(args[1]), 0).cast("long")
            st = F.greatest(start, F.lit(1).cast("long"))
            if len(args) > 2:
                length = F.round(_num(args[2]), 0).cast("long")
                ln = F.greatest(start + length - st, F.lit(0).cast("long"))
                out = s.substr(
                    st.cast("int"), F.least(ln, F.lit(2_000_000_000)).cast("int")
                )
            else:
                out = s.substr(st.cast("int"), F.lit(2_000_000_000))
            return _str_like(args[0], out)
        if name == "UCASE":
            return _str_like(args[0], F.upper(_lex(args[0])))
        if name == "LCASE":
            return _str_like(args[0], F.lower(_lex(args[0])))
        if name == "STRSTARTS":
            return make_bool(
                F.when(
                    _lang_compat(args[0], args[1]),
                    _lex(args[0]).startswith(_lex(args[1])),
                )
            )
        if name == "STRENDS":
            return make_bool(
                F.when(
                    _lang_compat(args[0], args[1]),
                    _lex(args[0]).endswith(_lex(args[1])),
                )
            )
        if name == "CONTAINS":
            return make_bool(
                F.when(
                    _lang_compat(args[0], args[1]),
                    _lex(args[0]).contains(_lex(args[1])),
                )
            )
        if name == "STRBEFORE":
            s, sep = _lex(args[0]), _lex(args[1])
            idx = F.instr(s, sep)
            # §17.4.3.4: on a match (empty sep matches at position 0) the
            # result carries arg1's lang/datatype; NO match → simple "".
            out = F.when(sep == "", F.lit("")).when(
                idx > 0, s.substr(F.lit(1), idx - 1)
            )
            matched = _str_like(args[0], F.coalesce(out, F.lit("")))
            return F.when(~_lang_compat(args[0], args[1]), F.expr(null_struct())).when(
                (sep == "") | (idx > 0), matched
            ).otherwise(make_string(F.when(idx == 0, F.lit(""))))
        if name == "STRAFTER":
            s, sep = _lex(args[0]), _lex(args[1])
            idx = F.instr(s, sep)
            out = F.when(sep == "", s).when(
                idx > 0, s.substr(idx + F.length(sep), F.lit(2_000_000_000))
            )
            matched = _str_like(args[0], F.coalesce(out, F.lit("")))
            return F.when(~_lang_compat(args[0], args[1]), F.expr(null_struct())).when(
                (sep == "") | (idx > 0), matched
            ).otherwise(make_string(F.when(idx == 0, F.lit(""))))
        if name == "CONCAT":
            # §17.4.3.12: the result keeps a language tag shared by ALL
            # arguments, is xsd:string when all arguments are xsd:string,
            # and is a simple literal otherwise.

            if not args:  # CONCAT() — the empty simple literal
                return make_string(F.lit(""))
            out = F.concat(*[_lex(a) for a in args])
            lang0 = args[0]["lang"]
            same_lang = lang0.isNotNull()
            all_xsd = args[0]["dtype"].eqNullSafe(F.lit(XSD + "string"))
            for a in args[1:]:
                same_lang = same_lang & a["lang"].eqNullSafe(lang0)
                all_xsd = all_xsd & a["dtype"].eqNullSafe(
                    F.lit(XSD + "string")
                )
            return _struct(
                F.when(out.isNull(), F.lit(None)).otherwise(F.lit(KIND_LITERAL)),
                out,
                F.when(all_xsd & out.isNotNull(), F.lit(XSD + "string")),
                F.when(same_lang & out.isNotNull(), lang0),
            )
        if name == "ENCODE_FOR_URI":
            # RFC 3986 percent-encoding, not form-encoding: space is %20
            # (never '+'), '*' is reserved, '~' is unreserved. url_encode
            # (java.net.URLEncoder) differs on exactly those three.
            e = F.url_encode(_lex(args[0]))
            e = F.replace(e, F.lit("+"), F.lit("%20"))
            e = F.replace(e, F.lit("*"), F.lit("%2A"))
            e = F.replace(e, F.lit("%7E"), F.lit("~"))
            return make_string(e)
        if name == "REGEX":
            s, pat = _lex(args[0]), _lex(args[1])
            if len(args) > 2:
                pat = _regex_with_flags(pat, _lex(args[2]))
            return make_bool(F.regexp_like(s, pat))
        if name == "REPLACE":
            s, pat, rep = _lex(args[0]), _lex(args[1]), _lex(args[2])
            if len(args) > 3:
                pat = _regex_with_flags(pat, _lex(args[3]))
            return _str_like(args[0], F.regexp_replace(s, pat, rep))

        if name == "ABS":
            return _int_preserving(args[0], F.abs(_num(args[0])))
        if name == "ROUND":
            # XPath fn:round: ties go toward POSITIVE INFINITY —
            # round(2.5)=3 but round(-2.5)=-2. Spark's round() is
            # HALF_UP (away from zero: -2.5 → -3), so use floor(x+0.5)
            # (W3C case round-half-negative).
            return _int_preserving(
                args[0],
                F.floor(_num(args[0]) + F.lit("0.5").cast("decimal(38,10)"))
                .cast("decimal(38,10)"),
            )
        if name == "CEIL":
            return _int_preserving(
                args[0], F.ceil(_num(args[0])).cast("decimal(38,10)")
            )
        if name == "FLOOR":
            return _int_preserving(
                args[0], F.floor(_num(args[0])).cast("decimal(38,10)")
            )
        if name == "RAND":
            return make_numeric(F.rand().cast("decimal(38,10)"), XSD + "double")

        if name == "NOW":
            return make_ts(F.current_timestamp())
        # Date component accessors read the literal's OWN timezone (spec
        # §17.4.5: HOURS("…T14:45:13-05:00") = 14), while the stored ts is
        # normalized to the session zone — so extract from the lexical form
        # when it parses as xsd:dateTime/date, falling back to the ts for
        # computed timestamps with no lexical form. regexp_extract returns
        # '' on no match, and ''.cast(int) is null, so coalesce works.
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES"):
            pat = {
                "YEAR": r"^(-?\d{4,})-\d\d-\d\d",
                "MONTH": r"^-?\d{4,}-(\d\d)-\d\d",
                "DAY": r"^-?\d{4,}-\d\d-(\d\d)",
                "HOURS": r"^-?\d{4,}-\d\d-\d\dT(\d\d):",
                "MINUTES": r"^-?\d{4,}-\d\d-\d\dT\d\d:(\d\d):",
            }[name]
            fallback = {
                "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                "HOURS": F.hour, "MINUTES": F.minute,
            }[name]
            from_lex = F.regexp_extract(args[0]["lex"], pat, 1).cast("int")
            return make_numeric(
                F.coalesce(from_lex, fallback(args[0]["ts"])), XSD + "integer"
            )
        if name == "SECONDS":
            # §17.4.5.6 returns xsd:decimal INCLUDING fractional seconds;
            # the stored ts is µs-precise but the lexical form is the
            # authority (same rationale as the accessors above)
            from_lex = F.regexp_extract(
                args[0]["lex"],
                r"^-?\d{4,}-\d\d-\d\dT\d\d:\d\d:(\d\d(?:\.\d+)?)", 1,
            ).cast("decimal(38,10)")
            fallback = (
                F.second(args[0]["ts"]).cast("decimal(38,10)")
                + F.pmod(F.unix_micros(args[0]["ts"]), F.lit(1_000_000))
                .cast("decimal(38,10)") / 1_000_000
            )
            return make_numeric(F.coalesce(from_lex, fallback))
        if name == "TZ":
            # §17.4.5.9: the zone as a simple literal — "Z", "+02:30", or
            # "" when the literal carries no timezone. Stored lexical form
            # carries the zone; the ts shadow is normalized.
            lex = _lex(args[0])
            tz = F.when(lex.endswith("Z"), F.lit("Z")).otherwise(
                F.regexp_extract(lex, r"([+-]\d\d:\d\d)$", 1)
            )
            return make_string(tz)
        if name == "TIMEZONE":
            # §17.4.5.8: the zone as xsd:dayTimeDuration ("-PT5H",
            # "PT2H30M", Z → "PT0S"); NO timezone is an error (unbound),
            # unlike TZ's empty string (W3C case tz-functions).

            lex = _lex(args[0])
            sign = F.regexp_extract(lex, r"([+-])\d\d:\d\d$", 1)
            hh = F.regexp_extract(lex, r"[+-](\d\d):\d\d$", 1).cast("int")
            mm = F.regexp_extract(lex, r"[+-]\d\d:(\d\d)$", 1).cast("int")
            dur = (
                F.when(lex.endswith("Z"), F.lit("PT0S"))
                .when(
                    sign != "",
                    F.when(
                        (hh == 0) & (mm == 0), F.lit("PT0S")
                    ).otherwise(
                        F.concat(
                            F.when(sign == "-", F.lit("-")).otherwise(F.lit("")),
                            F.lit("PT"),
                            F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H"))).otherwise(F.lit("")),
                            F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(F.lit("")),
                        )
                    ),
                )
            )
            return _struct(
                F.when(dur.isNull(), F.lit(None)).otherwise(F.lit(KIND_LITERAL)),
                dur, F.when(dur.isNotNull(), F.lit(XSD + "dayTimeDuration")),
            )

        if name == "MD5":
            return make_string(F.md5(_lex(args[0]).cast("binary")))
        if name == "SHA1":
            return make_string(F.sha1(_lex(args[0]).cast("binary")))
        if name in ("SHA256", "SHA384", "SHA512"):
            bits = int(name[3:])
            return make_string(F.sha2(_lex(args[0]).cast("binary"), bits))

        if name in _XSD_CASTS:
            return _xsd_cast(name, args[0])

        # -- RDF-star (SPARQL-star builtins) --------------------------------
        if name in ("SUBJECT", "PREDICATE", "OBJECT"):
            from dublin_smart_city_graphdb_spark.sparql.termcol import (
                nt_text_to_struct,
                quoted_component,
            )

            t = args[0]
            k = {"SUBJECT": 1, "PREDICATE": 2, "OBJECT": 3}[name]
            return F.when(
                t["kind"] == KIND_TRIPLE,
                nt_text_to_struct(quoted_component(t["lex"], k)),
            ).otherwise(F.expr(null_struct()))
        if name == "ISTRIPLE":
            t = args[0]
            return make_bool(
                F.when(t["kind"].isNotNull(), t["kind"] == KIND_TRIPLE)
            )
        if name == "TRIPLE":
            # NOTE: no local KIND_* imports here — a function-local import
            # makes the name local to ALL of _func, which silently broke
            # the ISIRI/ISBLANK branches above (UnboundLocalError)
            from dublin_smart_city_graphdb_spark.sparql.protocol import _term_nt

            s_, p_, o_ = args
            valid = (
                s_["kind"].isin(KIND_IRI, KIND_BLANK, KIND_TRIPLE)
                & (p_["kind"] == KIND_IRI)
                & o_["kind"].isNotNull()
            )
            lex = F.concat(
                F.lit("<< "), _term_nt(s_), F.lit(" "), _term_nt(p_),
                F.lit(" "), _term_nt(o_), F.lit(" >>"),
            )
            return F.when(
                valid,
                _struct(F.lit(KIND_TRIPLE), lex),
            ).otherwise(F.expr(null_struct()))

        raise ExprError(f"unsupported function {name}")
