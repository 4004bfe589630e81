"""SPARQL algebra → DataFrame compiler (SURVEY.md §3 E1, §4.2).

Every algebra node maps to the declarative DataFrame op from SURVEY.md §2 —
BGP → filtered-scan join chain, OPTIONAL → left join, MINUS → guarded
anti-join, UNION → unionByName, FILTER → EBV filter, aggregation → groupBy —
and Catalyst handles physical join selection, pushdown, and pruning.

Custom semantics Catalyst cannot supply (SURVEY §4.2):

- *join compatibility with unbound*: shared variables that may be unbound
  (introduced under OPTIONAL/UNION/VALUES-UNDEF) join with
  ``l IS NULL OR r IS NULL OR l = r`` and merge via coalesce; strictly-bound
  shared variables use plain struct equality so the common case stays a
  hash-joinable equi-join.
- *MINUS shared-domain guard*: no shared variables → no-op; removal requires
  at least one variable bound on both sides (differs from NOT EXISTS).
- *FILTER error semantics*: EBV null (type error) drops the row.
- *recursion*: property paths ``+``/``*`` run the semi-naive closure of
  graph/closure.py — driver-side fixpoint, since Catalyst has no recursion.
- *BGP join order*: patterns greedily ordered by bound-position selectivity
  while preserving shared-variable connectivity (avoids accidental cross
  joins); AQE fixes the physical side at runtime.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from dublin_smart_city_graphdb_spark.model.schema import (
    KIND_BLANK,
    KIND_IRI,
    KIND_TRIPLE,
    TERM_STRUCT,
)
from dublin_smart_city_graphdb_spark.model.terms import (
    RDF_TYPE,
    BNode,
    IRI,
    Literal,
    Term,
)
from dublin_smart_city_graphdb_spark.sparql import ast as A
from dublin_smart_city_graphdb_spark.sparql.exprs import ExprCompiler, numeric_const
from dublin_smart_city_graphdb_spark.sparql.termcol import (
    const_struct,
    ebv,
    make_numeric,
    make_string,
    null_struct,
    object_const_filter,
    object_struct,
    sort_keys,
    sql_col,
    sql_lit,
    subject_struct,
)
from dublin_smart_city_graphdb_spark.model.terms import XSD


_RANGE_OPS = {"<", ">", "<=", ">=", "="}
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}


def _pushable_ranges(filters: list) -> dict[str, list[tuple[str, object]]]:
    """var → [(op, numeric const)] for FILTER conjuncts of the fast-path
    shape (SPARQL error semantics = NULL num = row dropped either way), so
    star-compacted scans can filter BEFORE the groupBy shuffle — Catalyst
    pushes filters through joins on its own but not through our aggregate."""
    out: dict[str, list[tuple[str, object]]] = {}

    def visit(e):
        if isinstance(e, A.AndExpr):
            for p in e.parts:
                visit(p)
            return
        if isinstance(e, A.Compare) and e.op in _RANGE_OPS:
            lv, rv = numeric_const(e.left), numeric_const(e.right)
            if isinstance(e.left, A.Var) and rv is not None:
                out.setdefault(e.left.name, []).append((e.op, rv))
            elif isinstance(e.right, A.Var) and lv is not None:
                out.setdefault(e.right.name, []).append((_FLIP[e.op], lv))

    for f in filters:
        visit(f)
    return out


def _contains_exists(e) -> bool:
    return bool(_collect_exists(e))


def _expr_free_vars(e) -> set:
    """Var names referenced by an expression AST (dataclass walk);
    ExistsExpr subtrees are skipped — they are their own scope."""
    import dataclasses as _dc

    out: set = set()

    def walk(n):
        if isinstance(n, A.Var):
            out.add(n.name)
            return
        if isinstance(n, A.ExistsExpr):
            return
        if _dc.is_dataclass(n) and not isinstance(n, type):
            for f in _dc.fields(n):
                walk(getattr(n, f.name))
        elif isinstance(n, (list, tuple)):
            for item in n:
                walk(item)

    walk(e)
    return out


# AST nodes under which every variable is bound by a triple pattern (or
# property path) over the scanned quads, or not at all. BIND, VALUES,
# SERVICE, sub-SELECT and quoted-triple patterns are missing on purpose.
_SCAN_NODES = (
    A.Var, Term, A.TriplePattern, A.BGP, A.GroupPattern, A.OptionalPattern,
    A.UnionPattern, A.MinusPattern, A.GraphGraphPattern,
    A.PathLink, A.PathInv, A.PathSeq, A.PathAlt, A.PathStar, A.PathPlus,
    A.PathOpt, A.PathNeg,
    A.OrExpr, A.AndExpr, A.Compare, A.Arith, A.UnaryMinus, A.NotExpr,
    A.InExpr, A.FuncCall, A.ExistsExpr, A.Aggregate,
    A.SelectQuery, A.AskQuery, A.ConstructQuery, A.DescribeQuery,
)
# the engine's magic predicates (fts:, sim:, rank:, auto:, path:) bind
# their variables from computed tables, not from the scan
_MAGIC_NS = "urn:spark-graft:"


def _scan_bound_only(query) -> bool:
    """True when every variable of ``query`` takes its values from the
    term columns of the scanned quads: the whole query is built from
    ``_SCAN_NODES``, with no select expression, no GROUP BY expression
    and no magic predicate (dataclass walk)."""
    import dataclasses as _dc

    def ok(n) -> bool:
        if isinstance(n, (list, tuple)):
            return all(ok(x) for x in n)
        if not _dc.is_dataclass(n) or isinstance(n, type):
            return True
        if not isinstance(n, _SCAN_NODES):
            return False
        if isinstance(n, Term):
            return True
        if isinstance(n, A.SelectQuery) and (
            any(a is not None or not isinstance(v, A.Var)
                for v, a in n.projections)
            or not all(isinstance(g, A.Var) for g in n.group_by)
        ):
            return False
        if (
            isinstance(n, A.TriplePattern) and isinstance(n.p, IRI)
            and n.p.value.startswith(_MAGIC_NS)
        ):
            return False
        return all(ok(getattr(n, f.name)) for f in _dc.fields(n))

    return ok(query)


def _collect_exists(e) -> list:
    """Every ExistsExpr node in an expression tree (document order)."""
    if isinstance(e, A.ExistsExpr):
        return [e]
    out: list = []
    for attr in ("parts", "args", "options"):
        for sub in getattr(e, attr, []) or []:
            out.extend(_collect_exists(sub))
    for attr in ("left", "right", "inner", "expr"):
        sub = getattr(e, attr, None)
        if sub is not None:
            out.extend(_collect_exists(sub))
    return out


def _select(df: DataFrame, items: list[tuple[str | Column, str]]) -> DataFrame:
    """One projection of ``(expression, name)`` items. SQL-text items are
    parsed by the JVM (one ``selectExpr`` call when every item is text);
    Column items keep the Column API."""
    if all(isinstance(e, str) for e, _ in items):
        return df.selectExpr(*[
            e if e == sql_col(n) else f"{e} AS {sql_col(n)}"
            for e, n in items
        ])
    return df.select(*[_col(e).alias(n) for e, n in items])


def _col(e: str | Column) -> Column:
    return F.expr(e) if isinstance(e, str) else e


def _sql_in(col: str, values: list[str]) -> str:
    """``col IN (values)`` over string constants; FALSE when empty."""
    if not values:
        return "false"
    return f"{sql_col(col)} IN ({', '.join(sql_lit(v) for v in values)})"


def _merge_term(l: Column, r: Column) -> Column:
    """Join-merge of a shared variable: the left binding wins when BOUND.
    Unbound terms appear in two spellings — a true NULL struct (outer-join
    misses) and a struct of NULL fields (``null_struct()``, e.g. a VALUES
    UNDEF cell) — and ``F.coalesce`` wrongly keeps the second (a struct
    with null fields is not NULL). Dispatch on the kind field, which is
    NULL in both spellings."""
    return F.when(l["kind"].isNotNull(), l).otherwise(r)


@dataclass
class Compiled:
    df: DataFrame
    var_order: list[str]
    certain: set[str]
    # Row-count UPPER BOUND from load-time predicate stats (None =
    # unknown). Only trusted where an over-estimate is harmless and an
    # under-estimate impossible: stats cover the full store and refresh
    # on every mutation, so a predicate-constant scan can never exceed
    # its stat. Used to turn cartesian-style joins into broadcast
    # nested-loop joins when one side is provably small.
    est_rows: float | None = None

    @property
    def vars(self) -> set[str]:
        return set(self.var_order)


@dataclass
class _AggRef:
    """Marker substituted for Aggregate nodes before post-agg expression
    compilation; resolved to the precomputed aggregate column."""

    col: Column


class QueryCompiler:
    def __init__(
        self,
        spark: SparkSession,
        quads: DataFrame,
        predicate_stats: dict[str, int] | None = None,
        extensions: dict | None = None,
        services: dict[str, DataFrame] | None = None,
        star_views: list | None = None,
        wkt_escape_free: bool = False,
    ):
        self.spark = spark
        self.quads = quads
        # True when no term text of ``quads`` has a shape the geo
        # predicates send to their DE-9IM escape evaluator (the snapshot
        # flag kept with the predicate stats). Without it every geo
        # FILTER keeps the escape.
        self.wkt_escape_free = wkt_escape_free
        self._scan_vars = False
        self._base = ""
        # Materialized property-table views (SURVEY §1.5 fast path):
        # (predicate set, class_iri, wide DataFrame) per view.
        self.star_views = star_views or []
        # Per-predicate row counts collected at load time (the reference's
        # statistics-driven pattern reordering, SURVEY §4.1/§4.2 item 2).
        self.predicate_stats = predicate_stats or {}
        if extensions is None:
            # built-in extension functions (fn:haversineKm, geof:sfWithin,
            # …) are part of the engine surface — available from every
            # compiler, not only Engine-managed repositories
            from dublin_smart_city_graphdb_spark.sparql.extensions import (
                default_extensions,
            )

            extensions = default_extensions()
        self.extensions = extensions
        # Federated SERVICE targets (SPARQL 1.1 Federated Query): IRI →
        # quads DataFrame of another repository in the same catalog.
        self.services = services or {}
        # rdf:type skew salting (SURVEY §7 M8): class-position variables
        # (?t in `?x a ?t`) have FEW distinct values — a non-broadcast
        # join keyed on one hashes every row of a dominant class into the
        # same partition. When load-time predicate stats flag rdf:type
        # dominance, inner equi-joins on a class variable get an 8-way
        # salt (left side salted by row hash, right side exploded across
        # all salts — semantics unchanged, hot keys spread 8×).
        total = sum(self.predicate_stats.values())
        self._salt_type_joins = bool(
            total
            and self.predicate_stats.get(RDF_TYPE, 0) > 0.25 * total
        )
        self._class_vars: set[str] = set()
        self._uid = itertools.count()
        # Dataset clause (SURVEY §2.6 F6). Empty = GraphDB-style union
        # default graph (all contexts visible outside GRAPH).
        self.default_graphs: list[str] | None = None
        self.named_graphs: list[str] | None = None

    def _scan(self, graph_ctx, conds: list[str]) -> DataFrame:
        """The quads under the GRAPH context and the FROM/FROM NAMED
        dataset restriction, filtered by ``conds`` (SQL text): one filter
        operator for the whole conjunction."""
        df = self.quads
        if isinstance(graph_ctx, IRI):
            if self.named_graphs is not None and graph_ctx.value not in self.named_graphs:
                return df.limit(0)
            scope = [f"`g` = {sql_lit(graph_ctx.value)}"]
        elif isinstance(graph_ctx, A.Var):
            scope = ["`g` IS NOT NULL"]
            if self.named_graphs is not None:
                scope.append(_sql_in("g", self.named_graphs))
        elif self.default_graphs is not None:
            scope = [_sql_in("g", self.default_graphs)]
        else:
            scope = []
        conds = scope + conds
        if not conds:
            return df
        return df.filter(" AND ".join(f"({c})" for c in conds))

    # ------------------------------------------------------------------ API
    def compile(self, query) -> DataFrame:
        # query BASE: IRI()/URI() resolve runtime relative references
        # against it (parser attaches it to the AST root)
        self._base = getattr(query, "base", "") or ""
        self._scan_vars = self.wkt_escape_free and _scan_bound_only(query)
        if getattr(query, "from_graphs", None):
            self.default_graphs = list(query.from_graphs)
        if getattr(query, "from_named", None):
            self.named_graphs = list(query.from_named)
        elif getattr(query, "from_graphs", None):
            # FROM without FROM NAMED: GRAPH ranges over nothing (spec)
            self.named_graphs = []
        return self._compile_form(query)

    def _compile_form(self, query) -> DataFrame:
        if isinstance(query, A.SelectQuery):
            return self.compile_select(query).df
        if isinstance(query, A.AskQuery):
            c = self.compile_group(query.where, None)
            return (
                c.df.limit(1)
                .agg(F.count(F.lit(1)).alias("n"))
                .select((F.col("n") > 0).alias("ask"))
            )
        if isinstance(query, A.ConstructQuery):
            return self._compile_construct(query)
        if isinstance(query, A.DescribeQuery):
            return self._compile_describe(query)
        raise ValueError(f"unsupported query form {type(query).__name__}")

    # ------------------------------------------------------- SELECT pipeline
    def compile_select(self, q: A.SelectQuery) -> Compiled:
        base = self.compile_group(q.where, None)

        agg_nodes: list[A.Aggregate] = []

        def find_aggs(e):
            if isinstance(e, A.Aggregate):
                agg_nodes.append(e)
            elif isinstance(e, (A.OrExpr, A.AndExpr)):
                for p in e.parts:
                    find_aggs(p)
            elif isinstance(e, (A.Compare, A.Arith)):
                find_aggs(e.left)
                find_aggs(e.right)
            elif isinstance(e, (A.UnaryMinus, A.NotExpr)):
                find_aggs(e.inner)
            elif isinstance(e, A.InExpr):
                find_aggs(e.expr)
                for o in e.options:
                    find_aggs(o)
            elif isinstance(e, A.FuncCall):
                for a in e.args:
                    find_aggs(a)

        for proj, _ in q.projections:
            find_aggs(proj)
        for h in q.having:
            find_aggs(h)
        for ob, _ in q.order_by:
            find_aggs(ob)

        if q.group_by or agg_nodes:
            cur = self._aggregate(base, q, agg_nodes)
        else:
            cur = base

        # projection
        if q.projections:
            sel: list[tuple[str | Column, str]] = []
            names: list[str] = []
            certain: set[str] = set()
            proj_exists = [
                n for proj, _ in q.projections for n in _collect_exists(proj)
            ]
            if proj_exists:
                proj_df, ecols = self._exists_flags(cur, proj_exists, None)
                cur = Compiled(proj_df, cur.var_order, cur.certain)
            else:
                ecols = {}
            alias_map: dict[str, Column] = {}
            for proj, alias in q.projections:
                if isinstance(proj, A.Var) and alias is None:
                    name = proj.name
                    col = (
                        sql_col(name) if name in cur.vars else null_struct()
                    )
                else:
                    name = alias.name
                    # §18.2.4.4: each (expr AS ?x) EXTENDS the solution, so
                    # later select expressions may reference earlier aliases
                    # — resolve them to their already-compiled columns.
                    ec = self._ec(
                        lambda n, _m=dict(alias_map): _m.get(n, F.col(n)),
                        cur.vars | set(alias_map),
                        exists_cols=ecols,
                    )
                    col = ec.compile(proj)
                    alias_map[name] = col
                sel.append((col, name))
                names.append(name)
                if isinstance(proj, A.Var) and proj.name in cur.certain:
                    certain.add(name)
            # ORDER BY applies to the pre-projection solution sequence
            # (SPARQL §18.2.5: OrderBy comes before Project), so sort keys
            # may reference WHERE-clause variables that are NOT projected.
            # SELECT-expression aliases are also in scope (they extend the
            # solutions) — resolve them to their compiled expressions.
            if q.order_by and not (q.distinct or q.reduced):
                cur = self._order(cur, q.order_by, alias_map)
            out = Compiled(_select(cur.df, sel), names, certain)
        else:  # SELECT * — internal (blank-node) vars are not projectable
            visible = [v for v in cur.var_order if not v.startswith("__bn_")]
            if q.order_by and not (q.distinct or q.reduced):
                cur = self._order(cur, q.order_by, {})
            out = Compiled(
                cur.df.selectExpr(*[sql_col(v) for v in visible]),
                visible,
                {v for v in cur.certain if not v.startswith("__bn_")},
            )

        if q.order_by and (q.distinct or q.reduced):
            # DISTINCT collapses the solution sequence, so the sort must run
            # over the projected rows (ordering pre-projection would be
            # destroyed by dropDuplicates' aggregation anyway); sort keys
            # here can only reference projected names.
            ec = self._expr_compiler(out)
            keys: list[Column] = []
            for expr, asc in q.order_by:
                t = ec.compile(expr)
                for k in sort_keys(t):
                    keys.append(k.asc() if asc else k.desc())
            out = Compiled(
                out.df.dropDuplicates(out.var_order).orderBy(*keys),
                out.var_order,
                out.certain,
            )

        if (q.distinct or q.reduced) and not q.order_by:
            out = Compiled(out.df.dropDuplicates(out.var_order), out.var_order, out.certain)
        if q.offset:
            out = Compiled(out.df.offset(q.offset), out.var_order, out.certain)
        if q.limit is not None:
            out = Compiled(out.df.limit(q.limit), out.var_order, out.certain)
        return out

    def _ec(self, resolve, scope, exists_cols=None) -> ExprCompiler:
        """The expression compiler of this query over ``scope``."""
        return ExprCompiler(
            resolve, scope, self.extensions, exists_cols=exists_cols,
            base=self._base, scan_vars=self._scan_vars,
        )

    def _expr_compiler(self, c: Compiled) -> ExprCompiler:
        return self._ec(lambda n: F.col(n), c.vars)

    def _order(
        self,
        cur: Compiled,
        order_by: list,
        alias_map: dict[str, Column],
    ) -> Compiled:
        """Sort the solution sequence; SELECT-expression aliases resolve to
        their compiled expressions, everything else to solution columns."""
        ec = self._ec(
            lambda n: alias_map[n] if n in alias_map else F.col(n),
            cur.vars | set(alias_map),
        )
        keys: list[Column] = []
        for expr, asc in order_by:
            t = ec.compile(expr)
            for k in sort_keys(t):
                keys.append(k.asc() if asc else k.desc())
        return Compiled(cur.df.orderBy(*keys), cur.var_order, cur.certain)

    # ---------------------------------------------------------- aggregation
    def _aggregate(
        self, base: Compiled, q: A.SelectQuery, agg_nodes: list[A.Aggregate]
    ) -> Compiled:
        ec = self._expr_compiler(base)
        key_cols: list[Column] = []
        key_names: list[str] = []
        for g in q.group_by:
            if isinstance(g, A.Var):
                key_cols.append(F.col(g.name))
                key_names.append(g.name)
            else:
                expr, alias = g
                name = alias.name if alias else f"_gk{next(self._uid)}"
                key_cols.append(ec.compile(expr).alias(name))
                key_names.append(name)

        agg_exprs: list[Column] = []
        builders: dict[int, Column] = {}
        for node in agg_nodes:
            uid = next(self._uid)
            raw = f"_agg{uid}"
            operand = ec.compile(node.expr) if node.expr is not None else None
            fn = node.func
            if fn == "COUNT":
                if operand is None:
                    if node.distinct:
                        # COUNT(DISTINCT *) — §18.5.1 Distinct(ToMultiSet):
                        # count distinct SOLUTIONS. One struct over the
                        # visible variables is never null, so countDistinct
                        # can't drop partially-unbound solutions the way a
                        # multi-column count distinct would.
                        vis = [
                            F.col(v) for v in base.var_order
                            if not v.startswith("__")
                        ] or [F.lit(1)]
                        agg_exprs.append(
                            F.countDistinct(F.struct(*vis)).alias(raw)
                        )
                    else:
                        agg_exprs.append(F.count(F.lit(1)).alias(raw))
                else:
                    # §18.5.1.1: Count counts the DEFINED evaluations —
                    # a row whose operand errors (kind-null term struct,
                    # which Spark's count would still see as a non-null
                    # struct) contributes nothing
                    defined = F.when(
                        operand["kind"].isNotNull(), operand
                    )
                    if node.distinct:
                        agg_exprs.append(F.countDistinct(defined).alias(raw))
                    else:
                        agg_exprs.append(F.count(defined).alias(raw))
                builders[id(node)] = make_numeric(
                    F.col(raw).cast("decimal(38,10)"), XSD + "integer"
                )
            elif fn in ("SUM", "AVG"):
                num = operand["num"]
                if node.distinct:
                    col = F.sum_distinct(num) if fn == "SUM" else F.avg(num)
                else:
                    col = F.sum(num) if fn == "SUM" else F.avg(num)
                agg_exprs.append(col.alias(raw))
                # §18.5.1: Sum/Avg fold op:numeric-add over the operand
                # multiset — a solution whose operand evaluates to a
                # non-number (unbound, error, or a non-numeric term) makes
                # the whole aggregate an ERROR → unbound binding (W3C
                # agg-err shape). The EMPTY group is NOT an error:
                # Sum({}) = Avg({}) = 0.
                agg_exprs.append(
                    F.max(F.when(num.isNull(), 1).otherwise(0)).alias(
                        raw + "_bad"
                    )
                )
                bad = F.coalesce(F.col(raw + "_bad"), F.lit(0)) == 1
                val = F.when(
                    bad, F.lit(None).cast("decimal(38,10)")
                ).otherwise(
                    F.coalesce(F.col(raw), F.lit(0)).cast("decimal(38,10)")
                )
                if fn == "SUM":
                    # §18.5.1 type promotion: Sum over all-integer operands
                    # is xsd:integer ("4950", not "4950.0"); any non-integer
                    # operand promotes the result to decimal. Sum({}) = 0 —
                    # the empty coalesce stays integer-typed.
                    agg_exprs.append(
                        F.max(
                            F.when(
                                num.isNotNull()
                                & (operand["dtype"] != XSD + "integer"),
                                1,
                            ).otherwise(0)
                        ).alias(raw + "_ni")
                    )
                    builders[id(node)] = F.when(
                        F.coalesce(F.col(raw + "_ni"), F.lit(0)) == 0,
                        make_numeric(val, XSD + "integer"),
                    ).otherwise(make_numeric(val))
                else:
                    # AVG = Sum ÷ Count; integer ÷ integer is xsd:decimal
                    # (§17.3) for non-empty input; Avg({}) = 0 stays the
                    # plain integer zero of the spec's definition.
                    builders[id(node)] = F.when(
                        F.col(raw).isNull() & ~bad,
                        make_numeric(
                            F.lit(0).cast("decimal(38,10)"), XSD + "integer"
                        ),
                    ).otherwise(make_numeric(val))
            elif fn in ("MIN", "MAX"):
                f = F.min if fn == "MIN" else F.max
                fby = F.min_by if fn == "MIN" else F.max_by
                agg_exprs.append(f(operand["num"]).alias(raw + "_n"))
                agg_exprs.append(f(operand["lex"]).alias(raw + "_s"))
                # MIN/MAX return one of the operand VALUES — its datatype
                # rides along (integer stays integer) via min_by/max_by.
                agg_exprs.append(
                    fby(operand["dtype"], operand["num"]).alias(raw + "_dt")
                )
                # §18.5.1.7/8 use op:< — comparing a numeric with a
                # non-numeric term is a type error, so a group holding
                # BOTH kinds makes the aggregate error → unbound (W3C
                # case minmax-mixed-kinds)
                agg_exprs.append(
                    F.max(
                        F.when(operand["num"].isNotNull(), 1).otherwise(0)
                    ).alias(raw + "_hn")
                )
                agg_exprs.append(
                    F.max(
                        F.when(
                            operand["num"].isNull()
                            & operand["lex"].isNotNull(),
                            1,
                        ).otherwise(0)
                    ).alias(raw + "_hs")
                )
                mixed = (F.col(raw + "_hn") == 1) & (F.col(raw + "_hs") == 1)
                builders[id(node)] = (
                    F.when(mixed, F.expr(null_struct()))
                    .when(
                        F.col(raw + "_n").isNotNull()
                        & (F.col(raw + "_dt") == XSD + "integer"),
                        make_numeric(F.col(raw + "_n"), XSD + "integer"),
                    )
                    .when(
                        F.col(raw + "_n").isNotNull(),
                        make_numeric(F.col(raw + "_n")),
                    )
                    .otherwise(make_string(F.col(raw + "_s")))
                )
            elif fn == "GROUP_CONCAT":
                lex = operand["lex"]
                coll = F.collect_set(lex) if node.distinct else F.collect_list(lex)
                agg_exprs.append(coll.alias(raw))
                # sorted for determinism (SPARQL leaves order unspecified)
                builders[id(node)] = make_string(
                    F.concat_ws(node.separator, F.array_sort(F.col(raw)))
                )
            elif fn == "SAMPLE":
                agg_exprs.append(F.first(operand, ignorenulls=True).alias(raw))
                builders[id(node)] = F.col(raw)
            else:
                raise ValueError(f"unsupported aggregate {fn}")

        if not agg_exprs:  # GROUP BY with no aggregates → keys only
            agg_exprs = [F.count(F.lit(1)).alias("_gdummy")]
        gdf = (
            base.df.groupBy(*key_cols).agg(*agg_exprs)
            if key_cols
            else base.df.agg(*agg_exprs)
        )
        # Replace Aggregate nodes with resolved columns for post-agg exprs.
        post = gdf.select(
            *[F.col(n) for n in key_names],
            *[builders[id(n)].alias(f"_aggv{i}") for i, n in enumerate(agg_nodes)],
        )
        for i, node in enumerate(agg_nodes):
            self._rewrite_agg(q, node, f"_aggv{i}")
        cur = Compiled(post, key_names + [f"_aggv{i}" for i in range(len(agg_nodes))],
                       set(key_names))

        if q.having:
            ec2 = self._expr_compiler(cur)
            for h in q.having:
                cur = Compiled(
                    cur.df.filter(ec2.compile_bool(h)), cur.var_order, cur.certain
                )
        return cur

    def _rewrite_agg(self, q: A.SelectQuery, node: A.Aggregate, colname: str):
        """Swap an Aggregate node for a Var reference to its computed col."""
        ref = A.Var(colname)

        def sub(e):
            if e is node:
                return ref
            if isinstance(e, (A.OrExpr, A.AndExpr)):
                e.parts = [sub(p) for p in e.parts]
            elif isinstance(e, (A.Compare, A.Arith)):
                e.left = sub(e.left)
                e.right = sub(e.right)
            elif isinstance(e, (A.UnaryMinus, A.NotExpr)):
                e.inner = sub(e.inner)
            elif isinstance(e, A.InExpr):
                e.expr = sub(e.expr)
                e.options = [sub(o) for o in e.options]
            elif isinstance(e, A.FuncCall):
                e.args = [sub(a) for a in e.args]
            return e

        q.projections = [(sub(p), a) for p, a in q.projections]
        q.having = [sub(h) for h in q.having]
        q.order_by = [(sub(o), asc) for o, asc in q.order_by]

    # ------------------------------------------------------------- patterns
    def unit(self) -> Compiled:
        return Compiled(self.spark.range(1).select(), [], set())

    def compile_group(self, group: A.GroupPattern, graph_ctx) -> Compiled:
        cur: Compiled | None = None
        pushdown = _pushable_ranges(group.filters)
        for elem in group.elements:
            if isinstance(elem, A.BGP):
                c = self.compile_bgp(elem, graph_ctx, pushdown)
                cur = c if cur is None else self.join(cur, c, "inner")
            elif isinstance(elem, A.OptionalPattern):
                left = cur if cur is not None else self.unit()
                # SPARQL 18.2.2.2: FILTERs at the top level of an OPTIONAL
                # group become part of the LeftJoin CONDITION — they may
                # reference variables bound only on the LEFT side, and an
                # unsatisfied condition must keep the left row (unmatched),
                # not produce a matched-then-filtered row. EXISTS filters
                # need plan context and stay inside (they cannot reference
                # cross-side vars in our compile).
                plain = [f for f in elem.group.filters if not _contains_exists(f)]
                inner = A.GroupPattern(
                    elements=elem.group.elements,
                    filters=[f for f in elem.group.filters if _contains_exists(f)],
                )
                right = self.compile_group(inner, graph_ctx)
                cur = self.join(left, right, "left", filter_asts=plain)
            elif isinstance(elem, A.UnionPattern):
                branches = [self.compile_group(b, graph_ctx) for b in elem.branches]
                c = self._union(branches)
                cur = c if cur is None else self.join(cur, c, "inner")
            elif isinstance(elem, A.MinusPattern):
                right = self.compile_group(elem.group, graph_ctx)
                left = cur if cur is not None else self.unit()
                cur = self._minus(left, right)
            elif isinstance(elem, A.GraphGraphPattern):
                ctx = elem.graph
                c = self.compile_group(elem.group, ctx)
                cur = c if cur is None else self.join(cur, c, "inner")
            elif isinstance(elem, A.ServicePattern):
                c = self._service(elem, left=cur)
                cur = c if cur is None else self.join(cur, c, "inner")
            elif isinstance(elem, A.BindPattern):
                if cur is None:
                    cur = self.unit()
                name = elem.var.name
                if name in cur.vars:
                    raise ValueError(f"BIND to already-bound ?{name}")
                exists_nodes = _collect_exists(elem.expr)
                if exists_nodes:
                    df, ecols = self._exists_flags(cur, exists_nodes, graph_ctx)
                    ec = self._ec(
                        lambda n: F.col(n), cur.vars, exists_cols=ecols
                    )
                    bound = df.withColumn(name, ec.compile(elem.expr)).select(
                        *cur.var_order, name
                    )
                else:
                    ec = self._expr_compiler(cur)
                    bound = cur.df.withColumn(name, ec.compile(elem.expr))
                cur = Compiled(
                    bound, cur.var_order + [name], cur.certain,
                    est_rows=cur.est_rows,  # BIND never changes row count
                )
            elif isinstance(elem, A.ValuesPattern):
                c = self._values(elem)
                cur = c if cur is None else self.join(cur, c, "inner")
            elif isinstance(elem, A.SubSelectPattern):
                c = self.compile_select(elem.query)
                cur = c if cur is None else self.join(cur, c, "inner")
            elif isinstance(elem, A.GroupPattern):
                c = self.compile_group(elem, graph_ctx)
                cur = c if cur is None else self.join(cur, c, "inner")
            else:
                raise ValueError(f"unsupported pattern {type(elem).__name__}")
        if cur is None:
            cur = self.unit()
        for flt in group.filters:
            cur = self._filter(cur, flt, graph_ctx)
        return cur

    # -- SERVICE (SPARQL 1.1 Federated Query) --------------------------------
    def _service(
        self, elem: "A.ServicePattern", left: Compiled | None = None
    ) -> Compiled:
        """Evaluate the group against the target repository's quad store
        and return its solutions for the outer join-chain. Engine-internal
        federation (the registry maps ``urn:repo:{name}`` IRIs to sibling
        repositories' quads); the data never leaves the cluster — the
        remote pattern is just another DataFrame subplan, so Catalyst is
        free to reorder/broadcast it like any local pattern. SERVICE
        SILENT on an unknown target degrades to the unit solution (spec
        §2.2: a silent failure behaves as one empty solution mapping).
        ``SERVICE ?var`` (target discovered from bindings) is unsupported
        — it requires per-binding re-dispatch, which is inherently
        driver-side iteration."""
        if isinstance(elem.target, A.Var):
            if elem.silent:
                return self.unit()
            raise ValueError("sparql: SERVICE with a variable target is unsupported")
        if elem.target.value.startswith(("http://", "https://")):
            return self._service_http(elem, left)
        remote = self.services.get(elem.target.value)
        if remote is None:
            if elem.silent:
                return self.unit()
            raise ValueError(f"sparql: unknown SERVICE endpoint <{elem.target.value}>")
        sub = QueryCompiler(
            self.spark, remote, extensions=self.extensions, services=self.services
        )
        return sub.compile_group(elem.group, None)

    def _service_http(
        self, elem: "A.ServicePattern", left: Compiled | None = None
    ) -> Compiled:
        """Wire federation: POST the captured group text to the remote
        SPARQL-protocol endpoint, land its results-JSON bindings as a
        term-struct DataFrame (sparql/federation.py). The remote result is
        driver-materialized by protocol necessity — dimension-sized by
        design, same envelope as the reference's own federation — and then
        joins (usually broadcast) into the outer plan. SILENT maps any
        transport/parse failure to the unit solution (spec §2.2).

        When solutions are already bound to the left of the SERVICE
        clause, the distinct local bindings of the shared variables are
        injected into the remote query as a VALUES block (FedX-style
        bound join, ``federation.values_clause``) so the endpoint only
        ships compatible solutions — the scale lever that turns a
        full-remote-pattern fetch into a keyed lookup. Falls back to the
        unrestricted fetch above ``_BOUND_JOIN_MAX`` distinct keys or for
        non-travelling terms (blank nodes)."""
        from dublin_smart_city_graphdb_spark.sparql import federation

        if elem.raw_select is None:
            if elem.silent:
                return self.unit()
            raise ValueError(
                "sparql: HTTP SERVICE requires the query's source text "
                "(programmatic ASTs carry no raw_select)"
            )
        query = elem.raw_select
        if left is not None and left.var_order:
            shared = [
                v
                for v in left.var_order
                if v in left.certain
                and v in federation.binding_vars(elem.group)
            ]
            if shared:
                clause = federation.values_clause(left.df, shared)
                if clause is not None:
                    head, sep, body = query.partition("SELECT * WHERE ")
                    query = f"{head}{sep}{{ {body} {clause} }}"
        try:
            vars_, rows = federation.fetch_bindings(elem.target.value, query)
        except Exception as exc:  # transport, HTTP status, JSON shape
            if elem.silent:
                return self.unit()
            raise ValueError(
                f"sparql: SERVICE endpoint <{elem.target.value}> failed: {exc}"
            ) from None
        df, order, certain = federation.solutions_df(self.spark, vars_, rows)
        return Compiled(df, order, certain)

    # -- BGP -----------------------------------------------------------------
    def compile_bgp(
        self,
        bgp: A.BGP,
        graph_ctx,
        pushdown: dict[str, list[tuple[str, object]]] | None = None,
    ) -> Compiled:
        if not bgp.triples:
            return self.unit()

        # Query blank nodes are EXISTENTIAL VARIABLES (SPARQL §4.1.4), not
        # constants: rewrite to internal vars (prefixed __bn_, excluded from
        # SELECT *). Labels are parser-unique per [ ]/( ) instance; an
        # explicit _:label reused across separate group patterns would share
        # a var here (a deviation — such reuse is illegal SPARQL anyway).
        def unbn(t):
            return A.Var(f"__bn_{t.label}") if isinstance(t, BNode) else t

        bgp = A.BGP(
            [
                A.TriplePattern(unbn(tp.s), unbn(tp.p), unbn(tp.o))
                for tp in bgp.triples
            ]
        )

        # Magic predicates (GraphDB plugin surfaces): pull fts:match /
        # fts:score (Lucene connector), rank:hasRDFRank (RDF Rank plugin)
        # and auto:query (Autocomplete plugin) patterns out of the BGP and
        # join their bindings back in. Done before star compaction so an
        # entity star + a plugin restriction still compacts normally.
        fts_parts, bgp = self._extract_fts(bgp)
        rank_parts, bgp = self._extract_rank(bgp)
        auto_parts, bgp = self._extract_autocomplete(bgp)
        sim_parts, bgp = self._extract_similarity(bgp)
        path_parts, bgp = self._extract_pathsearch(bgp)
        fts_parts = fts_parts + rank_parts + auto_parts + sim_parts + path_parts

        # Star compaction: patterns sharing a subject VAR with bound
        # predicates collapse into ONE groupBy(s) shuffle (collect_list per
        # pattern + sequential explodes reproduce exact join multiplicity)
        # instead of k-1 self-joins — the dominant BGP shape (entity + its
        # attributes) and the single biggest shuffle saver at scale.
        star_groups: dict[str, list[A.TriplePattern]] = {}
        rest: list[A.TriplePattern] = []
        for tp in bgp.triples:
            if (
                isinstance(tp.s, A.Var)
                and isinstance(tp.p, IRI)
                and not (isinstance(tp.o, A.Var) and tp.o.name == tp.s.name)
            ):
                star_groups.setdefault(tp.s.name, []).append(tp)
            else:
                rest.append(tp)
        star_parts: list[Compiled] = list(fts_parts)
        for svar, tps in star_groups.items():
            if len(tps) >= 2:
                via_view = self._compile_star_via_view(svar, tps, graph_ctx)
                star_parts.append(
                    via_view
                    if via_view is not None
                    else self._compile_star(svar, tps, graph_ctx, pushdown or {})
                )
            else:
                rest.extend(tps)

        if not rest:
            cur = star_parts[0]
            for p in star_parts[1:]:
                cur = self.join(cur, p, "inner")
            return cur

        bgp = A.BGP(rest)

        big = float(sum(self.predicate_stats.values()) or 1 << 40)

        def selectivity(tp: A.TriplePattern) -> tuple:
            n_vars = sum(isinstance(t, A.Var) for t in (tp.s, tp.p, tp.o))
            p_bound = 0 if isinstance(tp.p, (IRI,)) else 1
            # Tie-break on load-time per-predicate row counts: start the
            # join chain from the rarest predicate (unknown predicate → 0
            # rows; unbound predicate → whole-store cardinality).
            card = (
                float(self.predicate_stats.get(tp.p.value, 0))
                if isinstance(tp.p, IRI) and self.predicate_stats
                else big
            )
            return (n_vars, p_bound, card)

        def tp_vars(tp: A.TriplePattern) -> set[str]:
            return {
                t.name for t in (tp.s, tp.p, tp.o) if isinstance(t, A.Var)
            }

        remaining = sorted(bgp.triples, key=selectivity)
        # Greedy connected ordering: always join on a shared var when any
        # remaining pattern allows it (avoids accidental cartesians).
        cur: Compiled | None = None
        bound: set[str] = set()
        for part in star_parts:
            cur = part if cur is None else self.join(cur, part, "inner")
        if cur is not None:
            bound = set(cur.vars)
        if cur is None:
            first = remaining.pop(0)
            cur = self.scan_pattern(first, graph_ctx)
            bound = tp_vars(first)
        while remaining:
            idx = next(
                (i for i, tp in enumerate(remaining) if bound & tp_vars(tp)),
                0,
            )
            tp = remaining.pop(idx)
            if isinstance(tp.p, (A.Var, IRI)):
                scanned = self.scan_pattern(tp, graph_ctx)
            else:
                # Path pattern joining an ALREADY-BOUND endpoint: hand the
                # accumulated chain's distinct values to the seeded
                # closure (VERDICT r6 task 1's "small already-bound
                # domain" — e.g. `?x a ex:CommitteeArea . ?x ex:adj+ ?y`
                # closes from the 5 areas, not the whole predicate graph).
                scanned = self._scan_path_pattern(
                    tp, graph_ctx, bound_frame=cur
                )
            cur = self.join(cur, scanned, "inner")
            bound |= tp_vars(tp)
        return cur

    def _compile_star_via_view(
        self, svar: str, tps: list[A.TriplePattern], graph_ctx
    ) -> Compiled | None:
        """Route a same-subject star through a materialized property table
        (SURVEY §1.5 "columnar analytics fast path"): ONE scan of the wide
        view replaces per-predicate quad scans + the star groupBy shuffle.

        Applies only when it is provably equivalent to the quad-scan plan:
        default graph scope, every attribute predicate lives in the view,
        the star's rdf:type restriction equals the view's class (both-None
        included), objects are distinct fresh vars or constants. Returns
        None to fall back to :meth:`_compile_star` otherwise. The view's
        single-valued contract is asserted at registration
        (engine.materialize_star_view), not re-checked per query.
        """
        from dublin_smart_city_graphdb_spark.model.terms import RDF_TYPE

        if not self.star_views or graph_ctx is not None:
            return None
        if self.default_graphs is not None or self.named_graphs is not None:
            return None
        type_const: str | None = None
        attrs: list[A.TriplePattern] = []
        for tp in tps:
            if (
                tp.p.value == RDF_TYPE
                and isinstance(tp.o, IRI)
                and type_const is None
            ):
                type_const = tp.o.value
                continue
            attrs.append(tp)
        seen_vars: set[str] = set()
        for tp in attrs:
            if isinstance(tp.o, A.Var):
                if tp.o.name == svar or tp.o.name in seen_vars:
                    return None
                seen_vars.add(tp.o.name)
        need = {tp.p.value for tp in attrs}
        view_df = None
        for preds, cls, df in self.star_views:
            if need <= preds and type_const == cls:
                view_df = df
                break
        if view_df is None:
            return None

        conds: list[str] = []
        sel = [(subject_struct("s"), svar)]
        for tp in attrs:
            c = sql_col(tp.p.value)
            if isinstance(tp.o, A.Var):
                # inner-join semantics: subject must have the predicate
                conds.append(f"{c} IS NOT NULL")
                sel.append((c, tp.o.name))
            else:
                conds.append(object_const_filter(tp.o, tp.p.value))
        out = view_df.filter(" AND ".join(conds)) if conds else view_df
        names = [n for _, n in sel]
        return Compiled(
            _select(out, sel), names, set(names),
            est_rows=self._star_est(tps),
        )

    def _star_est(self, tps: list[A.TriplePattern]) -> float | None:
        """Upper bound for a star group: the product of the member
        predicates' stats (worst case every row shares one subject)."""
        if not self.predicate_stats:
            return None
        est = 1.0
        for tp in tps:
            if not isinstance(tp.p, IRI):
                return None
            est *= float(self.predicate_stats.get(tp.p.value, 0))
        return est

    def _compile_star(
        self,
        svar: str,
        tps: list[A.TriplePattern],
        graph_ctx,
        pushdown: dict[str, list[tuple[str, object]]] | None = None,
    ) -> Compiled:
        """k same-subject bound-predicate patterns as ONE groupBy(s) shuffle.

        Per pattern: a ``collect_list(when(p == pred [and o matches const],
        object))`` aggregate, then a sequential ``explode`` per var-object
        pattern — the explode product reproduces the exact multiset a join
        chain yields (empty list → subject dropped, matching inner-join
        semantics). Constant-object patterns become an existence flag (RDF
        graphs are sets: multiplicity of an exact triple is 1).
        Repeated variables turn into post-explode equality filters.
        """
        preds = sorted({tp.p.value for tp in tps})
        conds = [_sql_in("p", preds)]
        # Pre-shuffle filtering (the aggregate otherwise blocks Catalyst's
        # own pushdown): (a) constant-object patterns drop non-matching rows
        # of their predicate at the scan; (b) group FILTER range conjuncts
        # on a star variable drop failing rows of the binding predicate.
        # Both shapes reach parquet as pushed per-column filters; the
        # group-level filter still runs afterwards (idempotent), so this is
        # purely a row-reduction ahead of the shuffle.
        # A predicate's pre-filter must keep every row ANY of its patterns
        # can match: two constant-object patterns on the SAME predicate
        # (``?c a :T1 ; a :T2``) OR together — per-pattern AND filters
        # would delete each other's rows and return nothing — and a
        # predicate shared with a var-object pattern gets no constant/range
        # pre-filter at all (the var pattern needs the full object list;
        # the per-group flag/equality logic below still enforces matches).
        from collections import Counter, defaultdict

        consts_by_pred: dict[str, list] = defaultdict(list)
        var_preds: Counter = Counter()
        for tp in tps:
            if isinstance(tp.o, A.Var):
                var_preds[tp.p.value] += 1
            else:
                consts_by_pred[tp.p.value].append(tp.o)
        for pred, consts in consts_by_pred.items():
            if pred in var_preds:
                continue
            match = " OR ".join(object_const_filter(c) for c in consts)
            conds.append(f"NOT (`p` = {sql_lit(pred)}) OR ({match})")
        for tp in tps:
            if not isinstance(tp.o, A.Var) or tp.o.name not in (pushdown or {}):
                continue
            # range pre-filter only when this pattern is the sole
            # reader of its predicate
            if var_preds[tp.p.value] != 1 or tp.p.value in consts_by_pred:
                continue
            ranges = " AND ".join(
                f"`o_num` {op} {sql_lit(const)}"
                for op, const in pushdown[tp.o.name]
            )
            conds.append(f"NOT (`p` = {sql_lit(tp.p.value)}) OR ({ranges})")
        df = self._scan(graph_ctx, conds)

        group_cols = ["s"]
        if isinstance(graph_ctx, A.Var):
            group_cols.append("g")

        aggs: list[str] = []
        var_cols: list[tuple[str, str]] = []  # (colname, varname)
        keep: list[str] = []  # post-aggregate conditions
        for i, tp in enumerate(tps):
            pred_match = f"`p` = {sql_lit(tp.p.value)}"
            if isinstance(tp.o, A.Var):
                aggs.append(
                    f"collect_list(CASE WHEN {pred_match} THEN "
                    f"{object_struct()} END) AS `_l{i}`"
                )
                var_cols.append((f"_l{i}", tp.o.name))
            else:
                aggs.append(
                    f"max(CASE WHEN {pred_match} AND "
                    f"{object_const_filter(tp.o)} THEN true END) AS `_f{i}`"
                )
                keep.append(f"`_f{i}`")
        if isinstance(graph_ctx, A.Var) and graph_ctx.name == svar:
            keep.append("`g` = `s`")

        out = df.groupBy(*group_cols).agg(*[F.expr(a) for a in aggs])
        if keep:
            out = out.filter(" AND ".join(keep))

        sel = [(subject_struct("s"), svar)]
        if isinstance(graph_ctx, A.Var) and graph_ctx.name != svar:
            sel.append((subject_struct("g"), graph_ctx.name))
        names = [n for _, n in sel]
        eq_filters: list[tuple[str, str]] = []
        for lc, vname in var_cols:
            out = out.selectExpr("*", f"explode(`{lc}`) AS `_e{lc}`")
            if vname in names:
                eq_filters.append((f"_e{lc}", vname))
            else:
                names.append(vname)
                sel.append((f"`_e{lc}`", vname))
        out = _select(out, sel + [(sql_col(c), c) for c, _ in eq_filters])
        if eq_filters:
            out = out.filter(" AND ".join(
                f"{sql_col(c)} <=> {sql_col(v)}" for c, v in eq_filters
            )).selectExpr(*[sql_col(n) for n in names])
        return Compiled(out, names, set(names), est_rows=self._star_est(tps))

    @staticmethod
    def _qp_ground_term(qp: "A.QuotedPattern"):
        """QuotedPattern → QuotedTriple when every component is ground."""
        from dublin_smart_city_graphdb_spark.model.terms import QuotedTriple

        parts = []
        for c in (qp.s, qp.p, qp.o):
            if isinstance(c, A.Var):
                return None
            if isinstance(c, A.QuotedPattern):
                t = QueryCompiler._qp_ground_term(c)
                if t is None:
                    return None
                parts.append(t)
            else:
                parts.append(c)
        return QuotedTriple(*parts)

    def _quoted_bindings(
        self, text_col: Column, qp: "A.QuotedPattern",
        filters: list, position_exprs: dict,
    ) -> None:
        """Decompose a stored quoted-triple term (its canonical text in
        ``text_col``) against a SPARQL-star pattern: ground components
        become text-equality filters, variables bind via
        nt_text_to_struct. Nested quoted patterns with variables are
        supported in the OBJECT component (the unambiguous remainder);
        nested subject patterns must be ground (their text contains
        whitespace, which would break the component split)."""
        from dublin_smart_city_graphdb_spark.model.terms import nt_text
        from dublin_smart_city_graphdb_spark.sparql.termcol import (
            nt_text_to_struct,
            quoted_component,
        )

        filters.append(text_col.startswith("<< "))
        for k, comp in ((1, qp.s), (2, qp.p), (3, qp.o)):
            c = quoted_component(text_col, k)
            if isinstance(comp, A.Var):
                position_exprs.setdefault(comp.name, []).append(
                    nt_text_to_struct(c)
                )
            elif isinstance(comp, A.QuotedPattern):
                g = self._qp_ground_term(comp)
                if g is not None:
                    filters.append(c == str(g))
                elif k == 3:
                    self._quoted_bindings(c, comp, filters, position_exprs)
                else:
                    raise ValueError(
                        "sparql-star: a nested quoted pattern with "
                        "variables is only supported in the object "
                        "component"
                    )
            else:
                filters.append(c == nt_text(comp))

    # -- full-text search (magic predicates) ---------------------------------
    FTS_MATCH = "urn:spark-graft:fts:match"
    FTS_SCORE = "urn:spark-graft:fts:score"

    def _extract_fts(self, bgp: "A.BGP"):
        """Pull ``?s fts:match "query"`` (and optional ``?s fts:score
        ?score``) patterns out of a BGP; return ([Compiled bindings], BGP
        of the remaining patterns).

        The GraphDB Lucene-connector surface from SPARQL text: subjects are
        scored by BM25 over the bag of tokens of ALL their literal objects
        (molecule-style default index). The bindings DataFrame joins into
        the rest of the BGP on the subject variable like any other pattern;
        scores surface as xsd:decimal literals for ORDER BY / FILTER."""
        matches: dict[str, str] = {}
        score_vars: dict[str, str] = {}
        rest: list[A.TriplePattern] = []
        for tp in bgp.triples:
            p_iri = tp.p.value if isinstance(tp.p, IRI) else None
            if p_iri == self.FTS_MATCH:
                if not isinstance(tp.s, A.Var):
                    raise ValueError("fts:match subject must be a variable")
                if not isinstance(tp.o, Literal):
                    raise ValueError("fts:match object must be a plain literal query string")
                matches[tp.s.name] = tp.o.lex
            elif p_iri == self.FTS_SCORE:
                if not (isinstance(tp.s, A.Var) and isinstance(tp.o, A.Var)):
                    raise ValueError("fts:score takes a subject variable and an object variable")
                score_vars[tp.s.name] = tp.o.name
            else:
                rest.append(tp)
        for svar in score_vars:
            if svar not in matches:
                raise ValueError(
                    f"fts:score on ?{svar} requires a matching fts:match pattern"
                )
        parts: list[Compiled] = []
        for svar, query in matches.items():
            from dublin_smart_city_graphdb_spark.operators.fts import (
                bm25_subject_scores,
            )
            from dublin_smart_city_graphdb_spark.sparql.termcol import (
                make_numeric,
            )

            scored = bm25_subject_scores(self.quads, query)
            sel = [F.expr(subject_struct("s")).alias(svar)]
            names = [svar]
            if svar in score_vars:
                sel.append(
                    make_numeric(
                        F.col("score").cast("decimal(38,10)")
                    ).alias(score_vars[svar])
                )
                names.append(score_vars[svar])
            parts.append(Compiled(scored.select(*sel), names, set(names)))
        return parts, A.BGP(rest)

    # -- Similarity search (magic predicates) --------------------------------
    SIM_SIMILAR = "urn:spark-graft:sim:similarTo"
    SIM_SCORE = "urn:spark-graft:sim:score"

    def _extract_similarity(self, bgp: "A.BGP"):
        """Pull ``?x sim:similarTo <anchor>`` (and optional ``?x sim:score
        ?s``) patterns out of a BGP; return ([Compiled bindings], BGP of
        the remaining patterns).

        The GraphDB similarity-plugin surface: subjects ranked by TF-IDF
        cosine of their literal-token bags against a BOUND anchor subject
        (operators/similarity.py — anchor vector broadcast, candidates =
        subjects sharing ≥1 anchor term, never all-pairs). Scores surface
        as xsd:decimal literals for ORDER BY / FILTER."""
        anchors: dict[str, str] = {}
        score_vars: dict[str, str] = {}
        rest: list[A.TriplePattern] = []
        for tp in bgp.triples:
            p_iri = tp.p.value if isinstance(tp.p, IRI) else None
            if p_iri == self.SIM_SIMILAR:
                if not isinstance(tp.s, A.Var):
                    raise ValueError("sim:similarTo subject must be a variable")
                if not isinstance(tp.o, IRI):
                    raise ValueError(
                        "sim:similarTo object must be a bound anchor IRI"
                    )
                anchors[tp.s.name] = tp.o.value
            elif p_iri == self.SIM_SCORE:
                if not (isinstance(tp.s, A.Var) and isinstance(tp.o, A.Var)):
                    raise ValueError(
                        "sim:score takes a subject variable and an object "
                        "variable"
                    )
                score_vars[tp.s.name] = tp.o.name
            else:
                rest.append(tp)
        for svar in score_vars:
            if svar not in anchors:
                raise ValueError(
                    f"sim:score on ?{svar} requires a matching sim:similarTo "
                    "pattern"
                )
        parts: list[Compiled] = []
        for svar, anchor in anchors.items():
            from dublin_smart_city_graphdb_spark.operators.similarity import (
                tfidf_cosine_to_anchor,
            )
            from dublin_smart_city_graphdb_spark.sparql.termcol import (
                make_numeric,
            )

            scored = tfidf_cosine_to_anchor(self.quads, anchor)
            sel = [F.expr(subject_struct("s")).alias(svar)]
            names = [svar]
            if svar in score_vars:
                sel.append(
                    make_numeric(
                        F.col("score").cast("decimal(38,10)")
                    ).alias(score_vars[svar])
                )
                names.append(score_vars[svar])
            parts.append(Compiled(scored.select(*sel), names, set(names)))
        return parts, A.BGP(rest)

    # -- RDF Rank (magic predicate) ------------------------------------------
    RANK_HAS = "urn:spark-graft:rank:hasRDFRank"

    def _rdf_rank_table(self) -> DataFrame:
        """(id, rank) for every node of the store's IRI-object graph.

        The GraphDB RDF Rank plugin surface (``rank:hasRDFRank``): nodes are
        subjects and IRI objects, edges every ``s → o`` statement whose
        object is an IRI (literals are attributes, not graph structure —
        the plugin's default). Rank is the engine's power-iteration
        PageRank (graph/closure.py) at a FIXED 2 iterations, d=0.85, so
        the value is deterministic and SQL-oracle-expressible; GraphDB's
        epsilon-converged variant differs only in iteration count. One
        distinct + the per-round groupBy(dst) shuffles — never an
        all-pairs shape, so the computation holds at full-store scale."""
        if getattr(self, "_rank_cache", None) is None:
            from dublin_smart_city_graphdb_spark.graph.closure import pagerank

            edges = (
                self.quads.filter(F.col("o_kind") == KIND_IRI)
                .select(F.col("s").alias("src"), F.col("o_lex").alias("dst"))
                .distinct()
            )
            self._rank_cache = pagerank(edges, iterations=2, damping=0.85)
        return self._rank_cache

    def _extract_rank(self, bgp: "A.BGP"):
        """Pull ``?node rank:hasRDFRank ?rank`` patterns out of a BGP;
        return ([Compiled bindings], BGP of the remaining patterns). The
        bindings join into the rest of the BGP on the node variable; ranks
        surface as xsd:decimal literals for ORDER BY / FILTER."""
        parts: list[Compiled] = []
        rest: list[A.TriplePattern] = []
        for tp in bgp.triples:
            p_iri = tp.p.value if isinstance(tp.p, IRI) else None
            if p_iri != self.RANK_HAS:
                rest.append(tp)
                continue
            if not (isinstance(tp.s, A.Var) and isinstance(tp.o, A.Var)):
                raise ValueError(
                    "rank:hasRDFRank takes a subject variable and an "
                    "object variable"
                )
            ranks = self._rdf_rank_table()
            sel = [
                F.expr(subject_struct("id")).alias(tp.s.name),
                make_numeric(F.col("rank").cast("decimal(38,10)")).alias(
                    tp.o.name
                ),
            ]
            names = [tp.s.name, tp.o.name]
            parts.append(Compiled(ranks.select(*sel), names, set(names)))
        return parts, A.BGP(rest)

    # -- Autocomplete (magic predicate) --------------------------------------
    AUTO_QUERY = "urn:spark-graft:auto:query"

    def _extract_autocomplete(self, bgp: "A.BGP"):
        """Pull ``?s auto:query "prefix"`` patterns out of a BGP; return
        ([Compiled bindings], BGP of the remaining patterns).

        The GraphDB Autocomplete plugin surface: suggest subjects whose
        IRI local name (text after the last ``/``, ``#`` or ``:``) or any
        literal object starts with the prefix, case-insensitively. Pure
        map-side filters over the quad scan + one distinct — the predicate
        pushes to the store scan, no join carries the store against
        anything."""
        from dublin_smart_city_graphdb_spark.model.schema import KIND_LITERAL

        parts: list[Compiled] = []
        rest: list[A.TriplePattern] = []
        for tp in bgp.triples:
            p_iri = tp.p.value if isinstance(tp.p, IRI) else None
            if p_iri != self.AUTO_QUERY:
                rest.append(tp)
                continue
            if not isinstance(tp.s, A.Var):
                raise ValueError("auto:query subject must be a variable")
            if not isinstance(tp.o, Literal):
                raise ValueError(
                    "auto:query object must be a plain literal prefix string"
                )
            q = tp.o.lex.lower()
            local = F.element_at(F.split(F.col("s"), "[/#:]"), -1)
            matches = (
                self.quads.filter(
                    (
                        (F.col("o_kind") == KIND_LITERAL)
                        & F.lower(F.col("o_lex")).startswith(q)
                    )
                    | F.lower(local).startswith(q)
                )
                .select("s")
                .distinct()
            )
            sel = [F.expr(subject_struct("s")).alias(tp.s.name)]
            parts.append(
                Compiled(matches.select(*sel), [tp.s.name], {tp.s.name})
            )
        return parts, A.BGP(rest)

    # -- Path search (magic predicates) ---------------------------------------
    PATH_NS = "urn:spark-graft:path:"

    def _extract_pathsearch(self, bgp: "A.BGP"):
        """Pull a GraphDB-path-plugin-style search group out of a BGP;
        return ([Compiled bindings], BGP of the remaining patterns).

        Surface (one group per search subject, usually a ``[]`` bnode):

        .. code-block:: sparql

            PREFIX path: <urn:spark-graft:path:>
            SELECT ?s ?e ?i WHERE {
              [] path:findPath path:shortestPath ;   # | allPaths | distance
                 path:sourceNode <urn:a> ;
                 path:destinationNode <urn:z> ;
                 path:propertyPath <urn:p> ;          # optional edge filter
                 path:maxPathLength 6 ;               # allPaths bound
                 path:startNode ?s ; path:endNode ?e ;
                 path:resultBindingIndex ?i ;
                 path:pathString ?ps ;                # allPaths/shortest
                 path:distanceBinding ?d .            # distance mode
            }

        Mirrors the GraphDB graph-path-search plugin (shipped in the
        reference's engine image, Dockerfile:2) with two documented
        deviations: source/destination must be BOUND IRIs (the plugin also
        accepts upstream bindings), and paths are identified by their node
        string (``pathString``) rather than a numeric path index, which
        keeps the result set-deterministic under distribution. Edges are
        the store's s→o statements with IRI objects (optionally one
        predicate); hop/distance semantics come from graph/paths.py —
        Pregel-shaped BFS, O(path length) driver traffic, bounded
        simple-path enumeration."""
        NS = self.PATH_NS
        groups: dict[str, dict[str, object]] = {}
        rest: list[A.TriplePattern] = []
        for tp in bgp.triples:
            p_iri = tp.p.value if isinstance(tp.p, IRI) else None
            if p_iri and p_iri.startswith(NS):
                if not isinstance(tp.s, A.Var):
                    raise ValueError(
                        "path-search patterns need a variable/bnode subject"
                    )
                groups.setdefault(tp.s.name, {})[p_iri[len(NS):]] = tp.o
            else:
                rest.append(tp)

        def need_iri(cfg, key):
            t = cfg.get(key)
            if not isinstance(t, IRI):
                raise ValueError(f"path:{key} must be a bound IRI")
            return t.value

        def need_var(cfg, key):
            t = cfg.get(key)
            if not isinstance(t, A.Var):
                raise ValueError(f"path:{key} must be a variable")
            return t.name

        parts: list[Compiled] = []
        for cfg in groups.values():
            from dublin_smart_city_graphdb_spark.graph.paths import (
                all_simple_paths,
                shortest_path,
            )

            mode = need_iri(cfg, "findPath")
            if not mode.startswith(NS):
                raise ValueError(f"unknown path:findPath mode <{mode}>")
            mode = mode[len(NS):]
            src = need_iri(cfg, "sourceNode")
            dst = need_iri(cfg, "destinationNode")
            edges = self.quads.filter(F.col("o_kind") == KIND_IRI)
            if "propertyPath" in cfg:
                edges = edges.filter(
                    F.col("p") == need_iri(cfg, "propertyPath")
                )
            edges = edges.select(
                F.col("s").alias("src"), F.col("o_lex").alias("dst")
            )
            spark = self.quads.sparkSession

            if mode == "distance":
                dvar = need_var(cfg, "distanceBinding")
                nodes = shortest_path(edges, src, dst)
                rows = [(len(nodes) - 1,)] if nodes else []
                df = spark.createDataFrame(rows, "d long").select(
                    make_numeric(
                        F.col("d"), XSD + "integer"
                    ).alias(dvar)
                )
                parts.append(Compiled(df, [dvar], {dvar}))
                continue

            svar = need_var(cfg, "startNode")
            evar = need_var(cfg, "endNode")
            ivar = need_var(cfg, "resultBindingIndex")
            names = [svar, evar, ivar]
            if mode == "shortestPath":
                nodes = shortest_path(edges, src, dst)
                rows = [
                    (nodes[i], nodes[i + 1], i, "->".join(nodes))
                    for i in range(len(nodes) - 1)
                ]
                hops = spark.createDataFrame(
                    rows, "h_s string, h_e string, h_i long, h_p string"
                )
            elif mode == "allPaths":
                max_len = 8
                if "maxPathLength" in cfg:
                    t = cfg["maxPathLength"]
                    if not isinstance(t, Literal):
                        raise ValueError(
                            "path:maxPathLength must be an integer literal"
                        )
                    max_len = int(t.lex)
                done = all_simple_paths(edges, src, dst, max_len)
                hops = done.select(
                    F.col("path"),
                    F.posexplode(
                        F.slice(F.col("path"), 1, F.col("hops"))
                    ).alias("h_i", "h_s"),
                ).select(
                    "h_i",
                    "h_s",
                    # [] indexing is 0-based: hop i runs path[i] → path[i+1]
                    F.col("path")[F.col("h_i") + 1].alias("h_e"),
                    F.concat_ws("->", F.col("path")).alias("h_p"),
                )
            else:
                raise ValueError(f"unknown path:findPath mode '{mode}'")
            sel = [
                F.expr(subject_struct("h_s")).alias(svar),
                F.expr(subject_struct("h_e")).alias(evar),
                make_numeric(F.col("h_i"), XSD + "integer").alias(ivar),
            ]
            if "pathString" in cfg:
                pvar = need_var(cfg, "pathString")
                sel.append(make_string(F.col("h_p")).alias(pvar))
                names.append(pvar)
            parts.append(Compiled(hops.select(*sel), names, set(names)))
        return parts, A.BGP(rest)

    def scan_pattern(self, tp: A.TriplePattern, graph_ctx) -> Compiled:
        if not isinstance(tp.p, (A.Var, IRI)):
            return self._scan_path_pattern(tp, graph_ctx)
        if (
            isinstance(tp.p, IRI) and tp.p.value == RDF_TYPE
            and isinstance(tp.o, A.Var)
        ):
            # class-position variable: low-cardinality join key (see the
            # skew-salting rationale in __init__)
            self._class_vars.add(tp.o.name)

        # constant positions: one SQL conjunction on the scan
        conds: list[str] = []
        if isinstance(tp.p, IRI):
            conds.append(f"`p` = {sql_lit(tp.p.value)}")
        # var → its term expressions at each position (SQL text, or a
        # Column for a quoted-pattern component)
        position_exprs: dict[str, list[str | Column]] = {}
        quoted_filters: list[Column] = []
        if isinstance(tp.s, IRI):
            conds.append(f"`s` = {sql_lit(tp.s.value)}")
        elif isinstance(tp.s, A.QuotedPattern):
            g = self._qp_ground_term(tp.s)
            if g is not None:
                conds.append(f"`s` = {sql_lit(str(g))}")
            else:
                self._quoted_bindings(
                    F.col("s"), tp.s, quoted_filters, position_exprs
                )
        elif isinstance(tp.s, Literal):
            return Compiled(self.quads.limit(0).select(), [], set())
        if isinstance(tp.o, A.QuotedPattern):
            g = self._qp_ground_term(tp.o)
            if g is not None:
                conds.append(object_const_filter(g))
            else:
                conds.append(f"`o_kind` = {KIND_TRIPLE}")
                self._quoted_bindings(
                    F.col("o_lex"), tp.o, quoted_filters, position_exprs
                )
        elif isinstance(tp.o, Term) and not isinstance(tp.o, A.Var):
            conds.append(object_const_filter(tp.o))
        df = self._scan(graph_ctx, conds)
        for qf in quoted_filters:
            df = df.filter(qf)

        if isinstance(tp.s, A.Var):
            position_exprs.setdefault(tp.s.name, []).append(subject_struct("s"))
        if isinstance(tp.p, A.Var):
            position_exprs.setdefault(tp.p.name, []).append(subject_struct("p"))
        if isinstance(tp.o, A.Var):
            position_exprs.setdefault(tp.o.name, []).append(object_struct())
        if isinstance(graph_ctx, A.Var):
            position_exprs.setdefault(graph_ctx.name, []).append(
                subject_struct("g")
            )
        sel = [(exprs[0], name) for name, exprs in position_exprs.items()]
        # the same var twice in one pattern: its positions must agree
        same = [
            (exprs[0], other)
            for exprs in position_exprs.values() for other in exprs[1:]
        ]
        for a, b in same:
            df = df.filter(_col(a) == _col(b))
        names = list(position_exprs)
        # predicate-constant scans are bounded by the load-time stat for
        # that predicate (extra s/o constants only shrink the result)
        est = (
            float(self.predicate_stats.get(tp.p.value, 0))
            if isinstance(tp.p, IRI) and self.predicate_stats
            else None
        )
        return Compiled(_select(df, sel), names, set(names), est_rows=est)

    # -- property paths ------------------------------------------------------
    def _scan_path_pattern(
        self, tp: A.TriplePattern, graph_ctx,
        bound_frame: Compiled | None = None,
    ) -> Compiled:
        s_t, o_t = tp.s, tp.o
        path = tp.p
        # ^(path) with endpoints (s, o) ≡ path with endpoints (o, s):
        # unwrapping keeps a bound endpoint visible to the seeded route.
        while isinstance(path, A.PathInv):
            path, s_t, o_t = path.inner, o_t, s_t
        pairs = self._path_pairs_for_endpoints(
            path, graph_ctx, s_t, o_t, bound_frame
        )
        names: list[str] = []
        sel: list[Column] = []
        if isinstance(s_t, A.Var):
            sel.append(F.col("src").alias(s_t.name))
            names.append(s_t.name)
        else:
            pairs = pairs.filter(f"`src` <=> {const_struct(s_t)}")
        if isinstance(o_t, A.Var):
            if isinstance(s_t, A.Var) and o_t.name == s_t.name:
                pairs = pairs.filter(F.col("src").eqNullSafe(F.col("dst")))
            else:
                sel.append(F.col("dst").alias(o_t.name))
                names.append(o_t.name)
        else:
            pairs = pairs.filter(f"`dst` <=> {const_struct(o_t)}")
        return Compiled(pairs.select(*sel) if sel else pairs.select(), names, set(names))

    def _path_pairs_for_endpoints(
        self, path, graph_ctx, s_t, o_t,
        bound_frame: Compiled | None = None,
    ) -> DataFrame:
        """Pairs for ``path``, routed by endpoint boundness. A ``+``/``*``
        closure with a CONSTANT endpoint — or a variable endpoint the
        surrounding BGP has ALREADY BOUND (``bound_frame``) — is evaluated
        frontier-seeded from those values (reversed edges for a bound
        object) instead of closing the whole predicate graph and
        post-filtering: rounds and row work are bounded by the seeds'
        reachable set, not the graph — the all-pairs closure of a 100 TB
        predicate graph dwarfs one binding set's neighborhood. Matches
        the reference's golden-query shapes (facilities.ttl:205-208 binds
        ex:NorthCentral as the path source). The variable-seeded route
        never collects: the seed set is the chain's distinct values as a
        DataFrame, materialized once by the closure's init checkpoint.
        Fully-unbound paths keep the all-pairs route."""
        s_const = not isinstance(s_t, A.Var)
        o_const = not isinstance(o_t, A.Var)

        def var_seed(t) -> DataFrame | None:
            if (
                bound_frame is None or not isinstance(t, A.Var)
                or t.name not in bound_frame.certain
            ):
                return None
            return bound_frame.df.select(
                F.col(t.name).alias("src")
            ).distinct()

        if not isinstance(path, (A.PathStar, A.PathPlus)):
            return self.compile_path_pairs(path, graph_ctx)
        if s_const:
            seeds = self.spark.range(1).selectExpr(
                f"{const_struct(s_t)} AS src"
            )
            seed_kind = ("const", s_t)
        elif o_const:
            seeds = self.spark.range(1).selectExpr(
                f"{const_struct(o_t)} AS src"
            )
            seed_kind = ("rev-const", o_t)
        else:
            s_seed = var_seed(s_t)
            if s_seed is not None:
                seeds, seed_kind = s_seed, ("var", None)
            else:
                o_seed = var_seed(o_t)
                if o_seed is not None:
                    seeds, seed_kind = o_seed, ("rev-var", None)
                else:
                    return self.compile_path_pairs(path, graph_ctx)
        from dublin_smart_city_graphdb_spark.graph.closure import (
            transitive_closure,
        )

        inner = self.compile_path_pairs(path.inner, graph_ctx)
        reverse = seed_kind[0].startswith("rev")
        edges = (
            inner.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            if reverse else inner
        )
        closed = transitive_closure(
            edges, seeds=seeds,
            # only constant endpoints are provably tiny; variable-seeded
            # binding sets can be arbitrarily large — let AQE choose there
            broadcast_seeds=seed_kind[0].endswith("const"),
        )
        if reverse:
            closed = closed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        if isinstance(path, A.PathStar):
            # zero-length arm: (t, t) for each seed that occurs as a node
            # of the scoped graph (same node domain the all-pairs route
            # uses); constants probe with limit(1), variable seed sets
            # semi-join the node frame.
            df = self._scan(graph_ctx, [])
            nodes = (
                df.selectExpr(f"{subject_struct('s')} AS n")
                .unionByName(df.selectExpr(f"{object_struct()} AS n"))
            )
            if seed_kind[0].endswith("const"):
                present = nodes.filter(
                    f"`n` <=> {const_struct(seed_kind[1])}"
                ).limit(1)
            else:
                present = nodes.join(
                    seeds.withColumnRenamed("src", "n").dropDuplicates(),
                    "n", "semi",
                )
            ident = present.select(
                F.col("n").alias("src"), F.col("n").alias("dst")
            ).distinct()
            closed = closed.unionByName(ident).distinct()
        return closed

    def compile_path_pairs(self, path, graph_ctx) -> DataFrame:
        df = self._scan(graph_ctx, [])

        if isinstance(path, A.PathLink):
            return (
                df.filter(f"`p` = {sql_lit(path.iri)}")
                .selectExpr(f"{subject_struct('s')} AS src",
                            f"{object_struct()} AS dst")
            )
        if isinstance(path, A.PathNeg):
            parts = []
            if path.has_fwd:
                fwd = df
                if path.fwd:
                    fwd = fwd.filter(~F.col("p").isin(*path.fwd))
                parts.append(
                    fwd.selectExpr(f"{subject_struct('s')} AS src",
                                   f"{object_struct()} AS dst")
                )
            if path.has_inv:
                inv = df
                if path.inv:
                    inv = inv.filter(~F.col("p").isin(*path.inv))
                parts.append(
                    inv.selectExpr(f"{object_struct()} AS src",
                                   f"{subject_struct('s')} AS dst")
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        if isinstance(path, A.PathInv):
            inner = self.compile_path_pairs(path.inner, graph_ctx)
            return inner.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        if isinstance(path, A.PathSeq):
            cur = self.compile_path_pairs(path.parts[0], graph_ctx)
            for part in path.parts[1:]:
                # rename the right side's columns instead of string-alias
                # scoping: when both parts compile to the IDENTICAL plan
                # (e.g. (:p/:p)*) the "L"/"R" dataset aliases leave both
                # sides sharing attribute ids, and a later checkpoint of
                # the closure over this join dies in the analyzer
                # ("key not found: src#N"); withColumnRenamed mints fresh
                # ids so the self-join is unambiguous
                nxt = (
                    self.compile_path_pairs(part, graph_ctx)
                    .withColumnRenamed("src", "__mid")
                    .withColumnRenamed("dst", "__rdst")
                )
                cur = (
                    cur.join(nxt, F.col("dst").eqNullSafe(F.col("__mid")))
                    .select("src", F.col("__rdst").alias("dst"))
                )
            return cur
        if isinstance(path, A.PathAlt):
            parts = [self.compile_path_pairs(p, graph_ctx) for p in path.parts]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.distinct()
        if isinstance(path, (A.PathStar, A.PathPlus, A.PathOpt)):
            from dublin_smart_city_graphdb_spark.graph.closure import (
                transitive_closure,
            )

            inner = self.compile_path_pairs(path.inner, graph_ctx)
            if isinstance(path, A.PathPlus):
                return transitive_closure(inner, "src", "dst")
            nodes = (
                df.selectExpr(f"{subject_struct('s')} AS n")
                .unionByName(df.selectExpr(f"{object_struct()} AS n"))
                .distinct()
            )
            identity = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
            if isinstance(path, A.PathOpt):
                return inner.unionByName(identity).distinct()
            closed = transitive_closure(inner, "src", "dst")
            return closed.unionByName(identity).distinct()
        raise ValueError(f"unsupported path {type(path).__name__}")

    # -- joins ---------------------------------------------------------------
    def _cross_partition_cap(self) -> int:
        """Per-side partition cap ahead of a cartesian-style join (the
        product of the two sides' counts bounds the result's partition
        count). Tracks the session's shuffle parallelism so a cluster-tuned
        config scales the cap with it."""
        try:
            return max(
                1, int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            )
        except Exception:
            return 32

    def join(
        self, a: Compiled, b: Compiled, how: str, filter_asts: list | None = None
    ) -> Compiled:
        shared = [v for v in a.var_order if v in b.vars]
        b_df = b.df
        for v in shared:
            b_df = b_df.withColumnRenamed(v, v + "__r")
        a_df = a.df
        # Cartesian-style physical joins (CartesianProduct / nested loop —
        # no shared var, or every shared var maybe-unbound so the condition
        # is an OR no hash join can use) multiply partition counts: the
        # result has |L| × |R| partitions, and a CHAIN of them grows the
        # count exponentially (10 unbound patterns over an 8-partition
        # store = 8^9 ≈ 10^8 Partition objects — gigabytes of driver heap
        # and a task set no cluster schedules). Parallelism of a cartesian
        # is already bounded by its O(n·m) row work, not its partition
        # product: cap both sides with a narrow coalesce so the product
        # stays ≤ cap² regardless of chain depth.
        if not any(v in a.certain and v in b.certain for v in shared):
            cap = self._cross_partition_cap()
            # A side whose load-time stats PROVE it small becomes a
            # broadcast: the physical join turns into a
            # BroadcastNestedLoopJoin whose output keeps the probe
            # side's partitioning, instead of a CartesianProduct whose
            # |L|×|R| partition product we would otherwise have to cap
            # on both inputs (cap² tiny tasks, each paying the full
            # task-binary/codegen overhead — the dominant cost of the
            # plan-analysis-heavy geo kernels). ~100k term-struct rows
            # is ≲ 20 MB, well inside the broadcast budget at any scale.
            bcast_rows = 100_000.0

            def _small(c: Compiled) -> bool:
                return c.est_rows is not None and c.est_rows <= bcast_rows

            # broadcast-right works for inner/cross and every left-*
            # flavor; broadcast-left only for inner/cross
            b_can = _small(b)
            a_can = _small(a) and how in ("inner", "cross")
            if b_can and (not a_can or b.est_rows <= a.est_rows):
                b_df = F.broadcast(b_df)
                if _small(a):
                    a_df = a_df.coalesce(1)
            elif a_can:
                a_df = F.broadcast(a_df)
                if _small(b):
                    b_df = b_df.coalesce(1)
            else:
                a_df, b_df = a_df.coalesce(cap), b_df.coalesce(cap)
        # rdf:type skew salting (SURVEY §7 M8): a pure-equi inner join
        # keyed on a class-position variable hashes every instance of a
        # dominant class to ONE partition. Salt 8 ways: the left side
        # gets a deterministic per-row salt, the right side replicates
        # across all salts — each (l, r) pair still matches exactly once
        # (at l's salt), so semantics and multiplicity are unchanged and
        # the hot key spreads over 8 tasks. Enabled only when load-time
        # predicate stats flag rdf:type dominance (>25% of the store).
        salted = (
            self._salt_type_joins
            and how == "inner"
            and not filter_asts
            and shared
            and all(v in a.certain and v in b.certain for v in shared)
            and any(v in self._class_vars for v in shared)
        )
        if salted:
            n_salt = 8
            a_df = a_df.withColumn(
                "__salt",
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in a_df.columns]),
                    F.lit(n_salt),
                ).cast("int"),
            )
            b_df = b_df.withColumn(
                "__salt",
                F.explode(F.array(*[F.lit(i) for i in range(n_salt)])),
            )
        L, R = a_df.alias("L"), b_df.alias("R")
        cond = F.lit(True)
        if salted:
            cond = F.col("L.__salt") == F.col("R.__salt")
        for v in shared:
            l, r = F.col(f"L.{v}"), F.col(f"R.{v}__r")
            if v in a.certain and v in b.certain:
                cond = cond & (l == r)
            else:
                cond = cond & (l["kind"].isNull() | r["kind"].isNull() | (l == r))
        if filter_asts:
            # OPTIONAL-with-FILTER: the filter joins the LeftJoin condition,
            # evaluated over the merged solution (outer vars resolve to the
            # left side). Eval error → false → left row survives unmatched.
            def resolve(name: str) -> Column:
                if name in shared:
                    return _merge_term(
                        F.col(f"L.{name}"), F.col(f"R.{name}__r")
                    )
                if name in a.vars:
                    return F.col(f"L.{name}")
                return F.col(f"R.{name}")

            ec = self._ec(resolve, a.vars | b.vars)
            for fa in filter_asts:
                cond = cond & F.coalesce(ec.compile_bool(fa), F.lit(False))
        if not shared and how == "inner" and not filter_asts:
            joined = L.crossJoin(R)
        else:
            joined = L.join(R, cond, how)
        sel: list[Column] = []
        order: list[str] = []
        for v in a.var_order:
            if v in shared:
                sel.append(_merge_term(
                    F.col(f"L.{v}"), F.col(f"R.{v}__r")
                ).alias(v))
            else:
                sel.append(F.col(f"L.{v}").alias(v))
            order.append(v)
        for v in b.var_order:
            if v not in shared:
                sel.append(F.col(f"R.{v}").alias(v))
                order.append(v)
        certain = set(a.certain)
        if how == "inner":
            certain |= b.certain
        # result upper bound: inner ≤ |a|·|b|; left ≤ |a|·max(1,|b|)
        est = None
        if a.est_rows is not None and b.est_rows is not None:
            est = a.est_rows * (
                b.est_rows if how == "inner" else max(1.0, b.est_rows)
            )
        # left join: b-only vars are maybe-null; shared stay as in a
        return Compiled(joined.select(*sel), order, certain, est_rows=est)

    def _union(self, branches: list[Compiled]) -> Compiled:
        all_vars: list[str] = []
        for br in branches:
            for v in br.var_order:
                if v not in all_vars:
                    all_vars.append(v)
        dfs = []
        for br in branches:
            dfs.append(_select(br.df, [
                (sql_col(v) if v in br.vars else null_struct(), v)
                for v in all_vars
            ]))
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        certain = set.intersection(*[br.certain for br in branches]) if branches else set()
        return Compiled(out, all_vars, certain)

    def _minus(self, a: Compiled, b: Compiled) -> Compiled:
        shared = [v for v in a.var_order if v in b.vars]
        if not shared:
            return a  # no shared domain → MINUS is a no-op (SURVEY §2.3 J5)
        b_df = b.df
        for v in shared:
            b_df = b_df.withColumnRenamed(v, v + "__r")
        compat = F.lit(True)
        overlap = F.lit(False)
        for v in shared:
            l, r = F.col(f"L.{v}"), F.col(f"R.{v}__r")
            compat = compat & (l["kind"].isNull() | r["kind"].isNull() | (l == r))
            overlap = overlap | (l["kind"].isNotNull() & r["kind"].isNotNull())
        joined = a.df.alias("L").join(b_df.alias("R"), compat & overlap, "left_anti")
        return Compiled(joined.select(*a.var_order), a.var_order, a.certain)

    def _values(self, vp: A.ValuesPattern) -> Compiled:
        names = [v.name for v in vp.vars]
        unit = self.spark.range(1).select()
        rows_df = None
        for row in vp.rows:
            one = _select(unit, [
                (const_struct(t) if t is not None else null_struct(), n)
                for t, n in zip(row, names)
            ])
            rows_df = one if rows_df is None else rows_df.unionByName(one)
        if rows_df is None:
            rows_df = _select(
                unit, [(null_struct(), n) for n in names]
            ).limit(0)
        certain = {
            n for i, n in enumerate(names)
            if all(row[i] is not None for row in vp.rows)
        }
        return Compiled(
            rows_df, names, certain, est_rows=float(len(vp.rows))
        )

    # -- filters -------------------------------------------------------------
    def _compile_exists_inner(self, group, outer_vars, graph_ctx):
        """Compile an EXISTS group with SUBSTITUTION semantics for its
        filters (spec §8.1.1 / errata): a filter referencing a variable
        the inner pattern does not bind but the outer row does is
        CORRELATED — it must see the outer binding, so it is deferred to
        the outer↔inner join instead of evaluating to an unbound error
        inside the group (which silently emptied every correlated EXISTS
        until the round-6 W3C case caught it). Returns (compiled inner
        with its local filters applied, correlated filter ASTs)."""
        import dataclasses as _dc

        inner0 = self.compile_group(
            _dc.replace(group, filters=[]), graph_ctx
        )
        local, correlated = [], []
        for flt in group.filters:
            fv = _expr_free_vars(flt)
            if (not _contains_exists(flt)) and (
                (fv - set(inner0.vars)) & set(outer_vars)
            ):
                correlated.append(flt)
            else:
                local.append(flt)
        cur = inner0
        for flt in local:
            cur = self._filter(cur, flt, graph_ctx)
        return cur, correlated

    def _correlated_cond(self, cur: Compiled, inner: Compiled,
                         shared: list, correlated: list) -> "F.Column":
        """AND of the deferred correlated filters compiled over the joined
        L (outer) / R (inner, shared vars renamed *__r) frames."""
        def resolve(n: str):
            if n in inner.vars:
                return F.col(f"R.{n}__r" if n in shared else f"R.{n}")
            return F.col(f"L.{n}")

        ec = self._ec(resolve, set(cur.vars) | set(inner.vars))
        cond = F.lit(True)
        for cf in correlated:
            cond = cond & ec.compile_bool(cf)
        return cond

    def _filter(self, cur: Compiled, flt, graph_ctx) -> Compiled:
        if isinstance(flt, A.ExistsExpr):
            inner, correlated = self._compile_exists_inner(
                flt.group, cur.vars, graph_ctx
            )
            shared = [v for v in cur.var_order if v in inner.vars]
            b_df = inner.df
            for v in shared:
                b_df = b_df.withColumnRenamed(v, v + "__r")
            cond = F.lit(True)
            for v in shared:
                l, r = F.col(f"L.{v}"), F.col(f"R.{v}__r")
                if v in cur.certain and v in inner.certain:
                    cond = cond & (l == r)
                else:
                    cond = cond & (l["kind"].isNull() | r["kind"].isNull() | (l == r))
            if correlated:
                cond = cond & self._correlated_cond(
                    cur, inner, shared, correlated
                )
            how = "left_anti" if flt.negated else "left_semi"
            joined = cur.df.alias("L").join(b_df.alias("R"), cond, how)
            return Compiled(
                joined.select(*cur.var_order), cur.var_order, cur.certain,
                est_rows=cur.est_rows,  # semi/anti only drop rows
            )
        if _contains_exists(flt):
            return self._filter_with_nested_exists(cur, flt, graph_ctx)
        ec = self._expr_compiler(cur)
        return Compiled(
            cur.df.filter(ec.compile_bool(flt)), cur.var_order, cur.certain,
            est_rows=cur.est_rows,  # filters only drop rows
        )

    def _filter_with_nested_exists(self, cur: Compiled, flt, graph_ctx) -> Compiled:
        """EXISTS / NOT EXISTS as a SUB-expression of a compound FILTER
        (e.g. ``FILTER(EXISTS {...} || ?v = 3)``)."""
        df, exists_cols = self._exists_flags(cur, _collect_exists(flt), graph_ctx)
        ec = self._ec(lambda n: F.col(n), cur.vars, exists_cols=exists_cols)
        out = df.filter(ec.compile_bool(flt)).select(*cur.var_order)
        return Compiled(out, cur.var_order, cur.certain)

    def _exists_flags(
        self, cur: Compiled, nodes: list, graph_ctx
    ) -> tuple[DataFrame, dict[int, str]]:
        """Pre-join each EXISTS group in ``nodes`` to a boolean flag column
        so the surrounding expression (FILTER / BIND / projection) compiles
        normally over the flags.

        Bag semantics guard: a compatible left join against a multi-matching
        pattern would duplicate solutions, so when every shared variable is
        certainly bound on both sides we join a DISTINCT projection of the
        shared vars (at most one match per row); otherwise each row gets a
        unique id, the match set is computed with a semi-join (never
        duplicates), and the flag joins back on the id."""
        inners = [
            (n, *self._compile_exists_inner(n.group, cur.vars, graph_ctx))
            for n in nodes
        ]

        def shared_of(inner):
            return [v for v in cur.var_order if v in inner.vars]

        # correlated filters need the full inner frame in the join (the
        # marker path projects only the shared vars)
        need_rid = any(corr for _, _, corr in inners) or any(
            not all(v in cur.certain and v in inner.certain for v in shared_of(inner))
            for _, inner, _ in inners
            if shared_of(inner)
        )
        df = cur.df
        if need_rid:
            # monotonically_increasing_id is only row-stable on a
            # materialized plan — checkpoint before reusing the ids
            df = df.withColumn(
                "__rid", F.monotonically_increasing_id()
            ).localCheckpoint(eager=True)
        exists_cols: dict[int, str] = {}
        extra: list[str] = []
        for k, (node, inner, correlated) in enumerate(inners):
            flag = f"__exists_{k}"
            exists_cols[id(node)] = flag
            extra.append(flag)
            shared = shared_of(inner)
            if not shared and not correlated:
                # disconnected EXISTS: constant over all solutions
                df = df.withColumn(flag, F.lit(not inner.df.isEmpty()))
                continue
            if not need_rid:
                marker = (
                    inner.df.select(
                        *[F.col(v).alias(v + "__r") for v in shared]
                    )
                    .distinct()
                    .withColumn(flag, F.lit(True))
                )
                cond = F.lit(True)
                for v in shared:
                    cond = cond & (F.col(f"L.{v}") == F.col(f"R.{v}__r"))
                df = (
                    df.alias("L")
                    .join(marker.alias("R"), cond, "left")
                    .drop(*[v + "__r" for v in shared])
                )
            else:
                b_df = inner.df
                for v in shared:
                    b_df = b_df.withColumnRenamed(v, v + "__r")
                cond = F.lit(True)
                for v in shared:
                    l, r = F.col(f"L.{v}"), F.col(f"R.{v}__r")
                    if v in cur.certain and v in inner.certain:
                        cond = cond & (l == r)
                    else:
                        cond = cond & (l["kind"].isNull() | r["kind"].isNull() | (l == r))
                if correlated:
                    cond = cond & self._correlated_cond(
                        cur, inner, shared, correlated
                    )
                matched = (
                    df.alias("L")
                    .join(b_df.alias("R"), cond, "left_semi")
                    .select("__rid")
                    .withColumn(flag, F.lit(True))
                )
                df = df.join(matched, "__rid", "left")
        return df, exists_cols

    # -- CONSTRUCT / DESCRIBE ------------------------------------------------
    def _compile_construct(self, q: A.ConstructQuery) -> DataFrame:
        sol = self.compile_group(q.where, None)
        df = sol.df
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        outs = []
        for tp in q.template:
            def term_col(t):
                if isinstance(t, A.Var):
                    if t.name in sol.vars:
                        return F.col(t.name)
                    return F.expr(null_struct())
                if isinstance(t, A.QuotedPattern):
                    # CONSTRUCT-star: build the quoted term from the
                    # solution's components (TRIPLE() semantics — invalid
                    # component kinds make the whole statement drop)
                    from dublin_smart_city_graphdb_spark.model.schema import (
                        KIND_BLANK,
                        KIND_TRIPLE,
                    )
                    from dublin_smart_city_graphdb_spark.sparql.protocol import (
                        _term_nt,
                    )
                    from dublin_smart_city_graphdb_spark.sparql.termcol import (
                        _struct,
                    )

                    s_, p_, o_ = (
                        term_col(t.s), term_col(t.p), term_col(t.o)
                    )
                    valid = (
                        s_["kind"].isin(KIND_IRI, KIND_BLANK, KIND_TRIPLE)
                        & (p_["kind"] == KIND_IRI)
                        & o_["kind"].isNotNull()
                    )
                    lex = F.concat(
                        F.lit("<< "), _term_nt(s_), F.lit(" "),
                        _term_nt(p_), F.lit(" "), _term_nt(o_), F.lit(" >>"),
                    )
                    return F.when(
                        valid,
                        _struct(F.lit(KIND_TRIPLE), lex),
                    ).otherwise(F.expr(null_struct()))
                if isinstance(t, BNode):
                    # template bnodes are FRESH per solution (spec §16.2.1)
                    from dublin_smart_city_graphdb_spark.sparql.termcol import (
                        _struct,
                    )

                    return _struct(
                        F.lit(1),
                        F.concat(F.lit(f"_:{t.label}_"), F.expr("uuid()")),
                    )
                return F.expr(const_struct(t))

            one = df.select(
                term_col(tp.s).alias("s"),
                term_col(tp.p).alias("p"),
                term_col(tp.o).alias("o"),
            ).filter(
                F.col("s").isNotNull() & F.col("s")["kind"].isNotNull()
                & F.col("p").isNotNull() & F.col("p")["kind"].isNotNull()
                & F.col("o").isNotNull() & F.col("o")["kind"].isNotNull()
                # spec 16.2: instantiations that would be invalid RDF are
                # dropped — literals can't be subjects, only IRIs predicates
                & F.col("s")["kind"].isin(KIND_IRI, KIND_BLANK, KIND_TRIPLE)
                & (F.col("p")["kind"] == F.lit(KIND_IRI))
            )
            outs.append(one)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out.dropDuplicates(["s", "p", "o"])

    def _compile_describe(self, q: A.DescribeQuery) -> DataFrame:
        targets = None
        consts = [t.value for t in q.terms if isinstance(t, IRI)]
        if consts:
            targets = self.spark.createDataFrame(
                [(c,) for c in consts], ["target"]
            )
        if q.where is not None:
            sol = self.compile_group(q.where, None)
            for t in q.terms:
                if isinstance(t, A.Var) and t.name in sol.vars:
                    tt = sol.df.select(
                        F.col(t.name)["lex"].alias("target")
                    ).distinct()
                    targets = tt if targets is None else targets.unionByName(tt).distinct()
        if targets is None:
            return self.quads.limit(0)
        targets = F.broadcast(targets.distinct())
        by_s = self.quads.join(targets, self.quads.s == targets.target, "left_semi")
        by_o = self.quads.filter(F.col("o_kind") == KIND_IRI).join(
            targets, self.quads.o_lex == targets.target, "left_semi"
        )
        result = by_s.unionByName(by_o).distinct()
        # Concise bounded description: follow blank-node objects so
        # anonymous sub-structures (geometry nodes, RDF lists) are fully
        # described. Each round describes only the blank nodes new in the
        # last round; a chain deeper than the budget raises.
        from dublin_smart_city_graphdb_spark.plans.ckpt import semi_naive

        def step(delta, known, flagged):
            bnodes = F.broadcast(
                delta.filter(F.col("o_kind") == 1)
                .select(F.col("o_lex").alias("target"))
                .distinct()
            )
            return self.quads.join(
                bnodes, self.quads.s == bnodes.target, "left_semi"
            )

        grown, _ = semi_naive(
            result, result, step,
            ["g", "s", "p", "o_kind", "o_lex", "o_dtype", "o_lang"],
            50, "DESCRIBE blank-node closure",
        )
        return result.unionByName(grown)
