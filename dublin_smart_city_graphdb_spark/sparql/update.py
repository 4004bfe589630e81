"""SPARQL 1.1 Update executor (SURVEY.md §2.1 S7).

The reference only exercises the add path (``POST /statements``,
``init-graphdb.sh:90``); the full Update language is engine surface selected
at ``Dockerfile:2``. Batch-analytics semantics, per SURVEY §2.1 S7:

- INSERT DATA / INSERT ... WHERE → union + set-dedupe (RDF graphs are sets);
- DELETE DATA / DELETE ... WHERE → **null-safe** anti-join on quad identity
  (o_dtype/o_lang are NULL for plain literals — plain equi-keys would never
  match them);
- CLEAR/DROP → partition-style filter-out; CREATE → no-op (graphs are
  implicit rows, not catalog objects);
- COPY/MOVE/ADD → graph-scoped select + union.

All ops are expressed as DataFrame transformations over the explicit-quads
DataFrame and returned lazily; the Repository decides persistence and
re-runs inference materialization afterwards (load-time forward chaining,
``init-graphdb.sh:51-55``).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from dublin_smart_city_graphdb_spark.model.schema import (
    KIND_BLANK,
    KIND_IRI,
    QUAD_SCHEMA,
)
from dublin_smart_city_graphdb_spark.model.terms import IRI
from dublin_smart_city_graphdb_spark.session import local_df
from dublin_smart_city_graphdb_spark.sparql import ast as A
from dublin_smart_city_graphdb_spark.sparql.termcol import const_struct, null_struct

# Quad identity: graph + term identity of all three positions (shadow
# columns are derived, not identity).
_ID_COLS = ["g", "s", "p", "o_kind", "o_lex", "o_dtype", "o_lang"]
_ALL_COLS = [f.name for f in QUAD_SCHEMA.fields]


def _nullsafe_cond(left: str, right: str, cols: list[str]) -> Column:
    cond = None
    for c in cols:
        clause = F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
        cond = clause if cond is None else (cond & clause)
    return cond


def _subtract_quads(store: DataFrame, remove: DataFrame) -> DataFrame:
    cond = _nullsafe_cond("q", "d", _ID_COLS)
    return (
        store.alias("q")
        .join(remove.select(*_ID_COLS).alias("d"), on=cond, how="left_anti")
    )


def _add_quads(store: DataFrame, add: DataFrame) -> DataFrame:
    """Set-union: keep store rows, append only genuinely new quads."""
    cond = _nullsafe_cond("a", "q", _ID_COLS)
    fresh = (
        add.alias("a")
        .dropDuplicates(_ID_COLS)
        .join(store.select(*_ID_COLS).alias("q"), on=cond, how="left_anti")
    )
    return store.unionByName(fresh.select(*_ALL_COLS))


def _ground_term(t):
    """Ground QuotedPattern (SPARQL-star data block) → QuotedTriple term."""
    from dublin_smart_city_graphdb_spark.model.terms import QuotedTriple

    if isinstance(t, A.QuotedPattern):
        return QuotedTriple(
            _ground_term(t.s), _ground_term(t.p), _ground_term(t.o)
        )
    return t


def _ground_rows(quads: list, with_graph: str | None = None) -> list[tuple]:
    from dublin_smart_city_graphdb_spark.model.terms import term_to_row

    rows = []
    for g, tp in quads:
        gval = g.value if isinstance(g, IRI) else (g if isinstance(g, str) else with_graph)
        rows.append(
            term_to_row(
                gval, _ground_term(tp.s), tp.p, _ground_term(tp.o)
            )
        )
    return rows


class UpdateExecutor:
    def __init__(self, spark: SparkSession, load_fn=None):
        self.spark = spark
        self.load_fn = load_fn  # (source, graph) -> DataFrame of quads

    def apply(self, quads: DataFrame, ops: list) -> DataFrame:
        for op in ops:
            quads = self._apply_one(quads, op)
        return quads

    def _apply_one(self, quads: DataFrame, op) -> DataFrame:
        if isinstance(op, A.InsertDataOp):
            rows = _ground_rows(op.quads)
            return _add_quads(quads, local_df(self.spark, rows, QUAD_SCHEMA))
        if isinstance(op, A.DeleteDataOp):
            rows = _ground_rows(op.quads)
            return _subtract_quads(
                quads, local_df(self.spark, rows, QUAD_SCHEMA)
            )
        if isinstance(op, A.ModifyOp):
            return self._modify(quads, op)
        if isinstance(op, A.LoadOp):
            return self._load(quads, op)
        if isinstance(op, A.ClearOp):
            return self._clear(quads, op.target)
        if isinstance(op, A.CreateOp):
            return quads  # graphs are implicit (rows), nothing to create
        if isinstance(op, A.GraphCopyOp):
            return self._graph_copy(quads, op)
        raise ValueError(f"unsupported update op {type(op).__name__}")

    # -- DELETE/INSERT ... WHERE --------------------------------------------
    def _modify(self, quads: DataFrame, op: A.ModifyOp) -> DataFrame:
        from dublin_smart_city_graphdb_spark.sparql.compiler import QueryCompiler

        compiler = QueryCompiler(self.spark, quads)
        if op.using or op.using_named:
            # Update §3.1.3: USING/USING NAMED REPLACE the WHERE dataset —
            # WITH then only supplies the template target graph, it must
            # not also scope pattern matching.
            compiler.default_graphs = list(op.using) or None
            compiler.named_graphs = list(op.using_named) or None
            graph_ctx = None
        else:
            graph_ctx = IRI(op.with_graph) if op.with_graph else None
        sol = compiler.compile_group(op.where, graph_ctx)

        out = quads
        if op.delete:
            dels = self._instantiate(sol, op.delete, op.with_graph)
            out = _subtract_quads(out, dels)
        if op.insert:
            ins = self._instantiate(sol, op.insert, op.with_graph)
            out = _add_quads(out, ins)
        return out

    def _instantiate(
        self, sol, templates: list, with_graph: str | None
    ) -> DataFrame:
        """Quad templates × solutions → quad rows. Unbound / ill-formed
        instantiations are dropped (SPARQL Update spec behavior)."""
        outs: list[DataFrame] = []
        for g, tp in templates:
            def term_struct(t) -> Column:
                if isinstance(t, A.Var):
                    if t.name in sol.vars:
                        return F.col(t.name)
                    return F.expr(null_struct())
                return F.expr(const_struct(t))

            s_c = term_struct(tp.s)
            p_c = term_struct(tp.p)
            o_c = term_struct(tp.o)
            if isinstance(g, A.Var):
                g_c = F.col(g.name)["lex"] if g.name in sol.vars else F.lit(None)
            elif isinstance(g, IRI):
                g_c = F.lit(g.value)
            elif isinstance(g, str):
                g_c = F.lit(g)
            else:
                g_c = F.lit(with_graph).cast("string")
            one = sol.df.select(
                g_c.cast("string").alias("g"),
                s_c.alias("_s"),
                p_c.alias("_p"),
                o_c.alias("_o"),
            ).filter(
                F.col("_s").isNotNull()
                & F.col("_s")["kind"].isin(KIND_IRI, KIND_BLANK)
                & F.col("_p").isNotNull()
                & (F.col("_p")["kind"] == KIND_IRI)
                & F.col("_o").isNotNull()
                & F.col("_o")["kind"].isNotNull()
            )
            outs.append(
                one.select(
                    "g",
                    F.col("_s")["lex"].alias("s"),
                    F.col("_p")["lex"].alias("p"),
                    F.col("_o")["kind"].alias("o_kind"),
                    F.col("_o")["lex"].alias("o_lex"),
                    F.col("_o")["dtype"].alias("o_dtype"),
                    F.col("_o")["lang"].alias("o_lang"),
                    F.col("_o")["num"].alias("o_num"),
                    F.col("_o")["ts"].alias("o_ts"),
                    F.col("_o")["bool"].alias("o_bool"),
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    # -- LOAD / CLEAR / COPY-MOVE-ADD ---------------------------------------
    def _load(self, quads: DataFrame, op: A.LoadOp) -> DataFrame:
        src = op.source
        if src.startswith(("http://", "https://")):
            # LOAD from a remote URL (SPARQL 1.1 Update §3.1.4): fetch the
            # document over the wire, then parse like a local file. The
            # document body lands on the driver (same envelope as the
            # reference's LOAD) — bulk ingest belongs to the distributed
            # N-Triples reader, not LOAD.
            import tempfile
            import urllib.request

            try:
                req = urllib.request.Request(
                    src, headers={"Accept": "text/turtle, application/n-triples"}
                )
                with urllib.request.urlopen(req, timeout=30.0) as resp:
                    body = resp.read()
            except Exception:
                if op.silent:
                    return quads
                raise ValueError(f"LOAD failed for <{op.source}>") from None
            with tempfile.NamedTemporaryFile(
                suffix=".ttl", delete=False
            ) as fh:
                fh.write(body)
                src = fh.name
        if src.startswith("file://"):
            src = src[len("file://"):]
        if not os.path.exists(src):
            if op.silent:
                return quads
            raise FileNotFoundError(f"LOAD source not found: {op.source}")
        if self.load_fn is None:
            raise ValueError("LOAD not supported without a loader")
        return _add_quads(quads, self.load_fn(src, op.graph))

    def _clear(self, quads: DataFrame, target: tuple) -> DataFrame:
        if target[0] == "graph":
            return quads.filter(
                F.col("g").isNull() | (F.col("g") != target[1])
            )
        if target[0] == "default":
            return quads.filter(F.col("g").isNotNull())
        if target[0] == "named":
            return quads.filter(F.col("g").isNull())
        return quads.limit(0)  # ALL

    def _graph_copy(self, quads: DataFrame, op: A.GraphCopyOp) -> DataFrame:
        def in_graph(g):
            # eqNullSafe so rows in the default graph (g NULL) survive the
            # negated filter instead of vanishing into three-valued NULL
            return F.col("g").eqNullSafe(F.lit(g).cast("string"))

        src_rows = quads.filter(in_graph(op.src)).withColumn(
            "g", F.lit(op.dst).cast("string")
        )
        out = quads
        if op.kind in ("COPY", "MOVE"):  # dst is replaced, not merged
            out = out.filter(~in_graph(op.dst))
        if op.kind == "MOVE":
            out = out.filter(~in_graph(op.src))
        return _add_quads(out, src_rows)
