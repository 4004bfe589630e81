"""Semi-naive Δ-restriction of CONSTRUCT inference rules (VERDICT r7
task 4: Δ-seeded incremental maintenance for owl-horst / owl2-rl).

Monotone rule batches satisfy closure(base ∪ Δ) = closure(base) ∪
(Δ-seeded fixpoint): any NEW conclusion must use at least one Δ triple
in its body. For the built-in RDFS-Plus batch that seeding is hand-woven
into ``rdfsplus._round``; the extended rulesets evaluate plain CONSTRUCT
rules instead, so the seeding is done by AST REWRITING here: for a rule
body of patterns P₁…Pₙ, the Δ-restricted evaluation is the union over
every INSTANCE-matchable slot i of the variant whose Pᵢ is scoped to
``GRAPH <urn:x-delta>`` (the marker graph the incremental round feeds
the Δ under, while the full statement set stays in the default graph).
This is textbook semi-naive rewriting, expressed through the engine's
own GRAPH machinery — no compiler changes, each variant is an ordinary
compiled plan whose Δ-scan is |Δ|-sized.

Schema-sided patterns (constant owl:/rdfs: predicates, rdf:type with a
constant vocabulary class) are NOT given variants: the incremental
fixpoint only delta-restricts a round when the round's delta passed
``touches_schema_extended`` (no owl:/rdfs: predicates, no vocabulary
type assertions, no rdf:first/rest), so those patterns cannot gain new
matches from the delta. A delta that does touch schema falls back to a
full-evaluation round — the same per-round fallback rdfsplus uses.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dublin_smart_city_graphdb_spark.model.terms import (
    IRI,
    OWL,
    RDF,
    RDFS,
)
from dublin_smart_city_graphdb_spark.sparql import ast as A

#: marker graph the incremental round publishes the Δ under
DELTA_GRAPH = "urn:x-delta"

_SCHEMA_NS = (OWL, RDFS)
_RDF_TYPE = RDF + "type"


def _schema_touch_cond_extended():
    """Column predicate for ``touches_schema_extended`` (exposed so the
    fixpoint loop can fuse the schema-touch probe into its emptiness
    probe — the ``flag`` of plans.ckpt.semi_naive)."""
    return (
        F.col("p").startswith(OWL)
        | F.col("p").startswith(RDFS)
        | F.col("p").isin(RDF + "first", RDF + "rest")
        | (
            (F.col("p") == _RDF_TYPE)
            & (F.col("o_lex").startswith(OWL)
               | F.col("o_lex").startswith(RDFS))
        )
    )


def touches_schema_extended(delta: DataFrame) -> bool:
    """Does Δ alter any extended-ruleset rule's SCHEMA side? Covers the
    whole owl:/rdfs: vocabulary (restriction axioms, property
    declarations, class expressions), vocabulary type assertions, and
    the RDF-list triples the owl2-rl list-axiom expansion collects.
    Conservative by construction: a schema-touching Δ forces a full
    round, never a wrong answer."""
    return not delta.filter(_schema_touch_cond_extended()).isEmpty()


touches_schema_extended.cond = _schema_touch_cond_extended


def _is_instance_pattern(t: A.TriplePattern) -> bool:
    """Can this body pattern match a NON-schema triple? (Only those can
    gain matches from a delta that passed touches_schema_extended.)"""
    p = t.p
    if isinstance(p, A.Var):
        return True
    if not isinstance(p, IRI):
        return False  # property paths don't occur in rule bodies
    if p.value == _RDF_TYPE:
        o = t.o
        return not (
            isinstance(o, IRI) and o.value.startswith(_SCHEMA_NS)
        )
    return not p.value.startswith(_SCHEMA_NS)


def delta_variants(
    ast: A.ConstructQuery,
) -> list[A.ConstructQuery] | None:
    """Δ-restricted variants of a CONSTRUCT rule: one per instance slot,
    that slot wrapped in ``GRAPH <urn:x-delta>``.

    Returns None when the body shape is not rewritable (the caller keeps
    the FULL rule in delta rounds — always sound, just unseeded) and []
    for schema-only bodies (an instance-only Δ cannot produce new
    matches; the rule is skipped in delta rounds)."""
    where = ast.where
    if not isinstance(where, A.GroupPattern):
        return None
    if any(not isinstance(e, A.BGP) for e in where.elements):
        return None
    triples = [t for e in where.elements for t in e.triples]
    if any(not isinstance(t.p, (A.Var, IRI)) for t in triples):
        return None
    out: list[A.ConstructQuery] = []
    for i, t in enumerate(triples):
        if not _is_instance_pattern(t):
            continue
        elements: list = []
        if triples[:i]:
            elements.append(A.BGP(list(triples[:i])))
        elements.append(A.GraphGraphPattern(
            IRI(DELTA_GRAPH),
            A.GroupPattern(elements=[A.BGP([t])], filters=[]),
        ))
        if triples[i + 1:]:
            elements.append(A.BGP(list(triples[i + 1:])))
        out.append(A.ConstructQuery(
            template=ast.template,
            where=A.GroupPattern(
                elements=elements, filters=list(where.filters)
            ),
        ))
    return out


def make_round_fn(spark, parsed: list, variants: list, static_df=None):
    """Round function for the semi-naive driver loop: the built-in
    RDFS-Plus batch plus a CONSTRUCT-rule batch, Δ-restricted through the
    GRAPH-marker variants when ``inst`` is given. Shared by the INSERT
    maintenance path (horst/owl2rl ``materialize_incremental``) and the
    DELETE path (``retract_incremental`` via inference/dred.py) — both
    need exactly the "conclusions whose body uses ≥1 Δ triple" contract.
    ``static_df`` (owl2-rl's axiom-derived constant rows) is appended to
    every round's candidates; the driver's anti-join dedups it."""
    from dublin_smart_city_graphdb_spark.inference.custom import (
        _construct_to_spo,
    )
    from dublin_smart_city_graphdb_spark.inference.rdfsplus import (
        _round,
        _schema_cache,
        _SPO_COLS,
    )

    # schema context of the built-in batch, shared as in
    # rdfsplus._cached_round_fn
    ctx_for = _schema_cache()

    def round_fn(known: DataFrame, inst, same_schema: bool = False):
        from dublin_smart_city_graphdb_spark.sparql.compiler import (
            QueryCompiler,
        )

        out = _round(
            known, inst, ctx=ctx_for(known, inst is None, same_schema)
        )
        if inst is None:
            view = known.select(
                F.lit(None).cast("string").alias("g"), *_SPO_COLS
            )
            asts = parsed
        else:
            view = delta_quads_view(known, inst, _SPO_COLS)
            asts = [
                a
                for full, vs in zip(parsed, variants)
                for a in (vs if vs is not None else [full])
            ]
        comp = QueryCompiler(spark, view)
        for ast in asts:
            out = out.unionByName(_construct_to_spo(comp.compile(ast)))
        if static_df is not None and inst is None:
            # axiom-derived constant rows are INDEPENDENT of instance
            # triples: they belong in full rounds only. In Δ-restricted
            # rounds they are never new (insert path: already in base) and
            # must not count as delta-derived (delete path: overdeletion
            # would misread them as schema conclusions losing support and
            # force a needless full rebuild)
            out = out.unionByName(static_df)
        return out

    # DRed overdeletion (inference/dred.py) requires delta rounds to emit
    # ONLY delta-derived candidates; a rule whose body shape is not
    # variant-rewritable runs full in delta rounds (sound for inserts,
    # poison for overdeletion), so the delete path must not trust it
    round_fn.delta_exact = all(vs is not None for vs in variants)
    return round_fn


def delta_quads_view(known_spo: DataFrame, inst_spo: DataFrame,
                     spo_cols: list[str]) -> DataFrame:
    """Quads view for a Δ-restricted round: the full statement set in
    the default graph plus the delta re-published under the marker
    graph, so full patterns see everything and GRAPH-wrapped slots see
    only the delta."""
    full = known_spo.select(
        F.lit(None).cast("string").alias("g"), *spo_cols
    )
    marked = inst_spo.select(
        F.lit(DELTA_GRAPH).alias("g"), *spo_cols
    )
    return full.unionByName(marked)
