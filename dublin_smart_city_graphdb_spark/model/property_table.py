"""Property-table views: the columnar analytics fast path (SURVEY §1.5).

RDF's triple layout pays one scan + join per predicate; hot classes with a
stable attribute set deserve a WIDE view — ``facility(s, name, lat, lon,
type, area, ...)`` — where the same analytics become single-scan columnar
queries (vectorized parquet + whole-stage codegen, no self-joins). This is
the deliberate denormalization every triple store bolts on eventually; in
Spark it is one ``pivot`` away, and the result can be persisted/bucketed
like any DataFrame.

Multi-valued predicates: ``first()`` per subject under ``single_valued``
semantics (the reference's facility record shape, SURVEY §1.3, is
single-valued per predicate); pass ``collect="list"`` to keep all values as
an array column instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dublin_smart_city_graphdb_spark.model.terms import RDF_TYPE


def star_view(
    quads: DataFrame, predicates: list[str], class_iri: str | None = None
) -> DataFrame:
    """Compiler-facing property table: ``s`` + one full TERM-STRUCT column
    per predicate (named by the predicate IRI), so a star BGP can read it
    directly instead of scanning+joining the quads table per pattern
    (SURVEY §1.5 "columnar analytics fast path").

    SINGLE-VALUED CONTRACT: one row per subject, ``first()`` per predicate.
    Registering a view asserts the class's predicates are single-valued per
    subject (the reference's facility record shape, SURVEY §1.3) — a
    multi-valued predicate routed through a view would lose join
    multiplicity. One groupBy(s) shuffle to build; reads are then
    single-scan columnar.
    """
    from dublin_smart_city_graphdb_spark.sparql.termcol import object_struct

    base = quads.filter(F.col("p").isin(list(predicates)))
    if class_iri is not None:
        typed = (
            quads.filter(
                (F.col("p") == RDF_TYPE)
                & (F.col("o_kind") == 0)
                & (F.col("o_lex") == class_iri)
            )
            .select("s")
            .distinct()
        )
        base = base.join(typed, on="s", how="left_semi")
    aggs = [
        F.first(
            F.when(F.col("p") == pred, F.expr(object_struct())),
            ignorenulls=True,
        ).alias(pred)
        for pred in predicates
    ]
    return base.groupBy("s").agg(*aggs)

# predicate value kind → shadow column carrying the natively-typed value
_KIND_FIELD = {
    "string": "o_lex",
    "iri": "o_lex",
    "decimal": "o_num",
    "timestamp": "o_ts",
    "boolean": "o_bool",
}


def property_table(
    quads: DataFrame,
    columns: dict[str, tuple[str, str]],
    class_iri: str | None = None,
    collect: str = "first",
) -> DataFrame:
    """Pivot quads into a wide per-subject table.

    ``columns``: predicate IRI → (output column name, kind); kind selects the
    typed shadow column (SURVEY §1.5) so numerics/timestamps arrive as native
    Spark types, not lexical strings.
    ``class_iri``: optional rdf:type restriction (semi-join on typed
    subjects, broadcast — the type pattern is the selective side).
    """
    preds = list(columns)
    base = quads.filter(F.col("p").isin(preds))
    if class_iri is not None:
        typed = (
            quads.filter(
                (F.col("p") == RDF_TYPE)
                & (F.col("o_kind") == 0)
                & (F.col("o_lex") == class_iri)
            )
            .select("s")
            .distinct()
        )
        base = base.join(typed, on="s", how="left_semi")

    payload = F.struct(
        F.col("o_lex"), F.col("o_num"), F.col("o_ts"), F.col("o_bool")
    )
    agg = (
        F.first(payload, ignorenulls=True)
        if collect == "first"
        else F.collect_list(payload)
    )
    pivoted = base.groupBy("s").pivot("p", preds).agg(agg)

    sel = [F.col("s")]
    for pred, (name, kind) in columns.items():
        field = _KIND_FIELD[kind]
        col = F.col(f"`{pred}`")
        if collect == "first":
            sel.append(col[field].alias(name))
        else:
            sel.append(
                F.transform(col, lambda x: x[field]).alias(name)  # noqa: B023
            )
    return pivoted.select(*sel)
