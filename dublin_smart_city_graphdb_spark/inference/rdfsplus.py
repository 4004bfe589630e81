"""RDFS-Plus forward-chaining materializer (SURVEY.md §2.8).

The reference configures ruleset ``rdfsplus-optimized``
(``init-graphdb.sh:51-55``): inference runs at load time (forward chaining /
materialization — GraphDB's documented ruleset execution model) so query
time reads plain triples. Same tradeoff here: each rule is one DataFrame
join; the driver loops the rule batch to fixpoint, de-duplicating against
the accumulated statement set each round (semi-naive: only genuinely new
triples re-enter). Inferred statements land under ``g = urn:inferred`` so
"explicit only" access stays possible (SURVEY §1.5).

RDFS-Plus = RDFS ∪ {inverseOf, SymmetricProperty, TransitiveProperty,
sameAs, equivalentClass, equivalentProperty, FunctionalProperty,
InverseFunctionalProperty}. Schema vocabularies are tiny (the reference
ontology: ~11 properties), so every rule join broadcasts the schema side;
the instance side streams through unchanged — the shape that holds at 100 TB.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dublin_smart_city_graphdb_spark.model.schema import INFERRED_GRAPH, KIND_IRI
from dublin_smart_city_graphdb_spark.model.terms import OWL, RDF_TYPE, RDFS

_SUBCLASS = RDFS + "subClassOf"
_SUBPROP = RDFS + "subPropertyOf"
_DOMAIN = RDFS + "domain"
_RANGE = RDFS + "range"
_INVERSE = OWL + "inverseOf"
_SYMMETRIC = OWL + "SymmetricProperty"
_TRANSITIVE = OWL + "TransitiveProperty"
_SAME_AS = OWL + "sameAs"
_EQ_CLASS = OWL + "equivalentClass"
_EQ_PROP = OWL + "equivalentProperty"
_FUNCTIONAL = OWL + "FunctionalProperty"
_INV_FUNCTIONAL = OWL + "InverseFunctionalProperty"

_ID_COLS = ["s", "p", "o_kind", "o_lex", "o_dtype", "o_lang"]


def _type_triple(df: DataFrame, s_col: str, cls_col: str) -> DataFrame:
    return df.select(
        F.col(s_col).alias("s"),
        F.lit(RDF_TYPE).alias("p"),
        F.lit(KIND_IRI).cast("tinyint").alias("o_kind"),
        F.col(cls_col).alias("o_lex"),
        F.lit(None).cast("string").alias("o_dtype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("decimal(38,10)").alias("o_num"),
        F.lit(None).cast("timestamp").alias("o_ts"),
        F.lit(None).cast("boolean").alias("o_bool"),
    )


def _swap_so(df: DataFrame, new_p_col) -> DataFrame:
    """(s p o) → (o p' s); only for non-literal objects."""
    return df.filter(F.col("o_kind") != 2).select(
        F.col("o_lex").alias("s"),
        new_p_col.alias("p"),
        F.when(F.col("s").startswith("_:"), F.lit(1)).otherwise(F.lit(0))
        .cast("tinyint").alias("o_kind"),
        F.col("s").alias("o_lex"),
        F.lit(None).cast("string").alias("o_dtype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("decimal(38,10)").alias("o_num"),
        F.lit(None).cast("timestamp").alias("o_ts"),
        F.lit(None).cast("boolean").alias("o_bool"),
    )


# Hard cap on the driver-side schema collect (round 12): the schema
# context is bounded by the ONTOLOGY by design; a store whose instance
# data itself carries schema vocabulary must fail loudly rather than
# silently materialize on the driver.
_SCHEMA_COLLECT_CAP = int(os.environ.get("SPARK_GRAFT_SCHEMA_CAP", "1000000"))

_SCHEMA_PREDS = (
    _SUBCLASS, _SUBPROP, _DOMAIN, _RANGE, _INVERSE, _EQ_CLASS, _EQ_PROP,
    _SAME_AS,
)
_SCHEMA_CLASSES = (_SYMMETRIC, _TRANSITIVE, _FUNCTIONAL, _INV_FUNCTIONAL)


def _schema_touch_cond():
    """Column predicate: is this row a SCHEMA triple for the built-in
    rule batch? (Exposed separately so fixpoint drivers can fuse the
    schema-touch probe into the same job as the emptiness probe.)"""
    return (
        F.col("p").isin(*_SCHEMA_PREDS)
        | ((F.col("p") == RDF_TYPE) & F.col("o_lex").isin(*_SCHEMA_CLASSES))
    )


def _touches_schema(delta: DataFrame) -> bool:
    """Does this round's delta alter any rule's SCHEMA side (property maps,
    property-class declarations, sameAs pairs)? If so the next round must
    rejoin the full statement set; otherwise the delta alone suffices."""
    return not delta.filter(_schema_touch_cond()).isEmpty()


_touches_schema.cond = _schema_touch_cond


def _schema_ctx(facts: DataFrame) -> dict:
    """The schema-side tables every rule round reads, extracted from
    ``facts`` ONCE with a single collect (they are tiny — bounded by the
    ontology, the already-adjudicated driver-side bound of this module)
    and re-published as one-slice local frames. A loop whose schema
    cannot change between rounds — DRed overdeletion over a fixed old
    view, a stretch of schema-free delta rounds, or any single round —
    passes this to ``_round`` so the round stops re-scanning the full
    statement set ~12× for tables that are provably identical.

    Driver-side collection buys two things the old checkpoint-backed
    tables could not (measured on the DRed gate flow, r11): every
    schema table's EMPTINESS is known without a Spark job, so ``_round``
    skips dead rule branches entirely (most workloads declare 1-3 of the
    11 schema relations), and the 4 isEmpty probes + per-round broadcast
    materializations collapse into the one collect. The property-
    INSTANCE tables (transitive/functional facts) still come from the
    live fact set — they grow with the fixpoint — but their guard flags
    are schema-side and exact."""
    from dublin_smart_city_graphdb_spark.session import local_df

    spark = facts.sparkSession
    srows = (
        facts.filter(
            F.col("p").isin(*_SCHEMA_PREDS)
            | ((F.col("p") == RDF_TYPE) & F.col("o_lex").isin(*_SCHEMA_CLASSES))
        )
        .select("s", "p", "o_kind", "o_lex")
        .limit(_SCHEMA_COLLECT_CAP + 1)
        .collect()
    )
    if len(srows) > _SCHEMA_COLLECT_CAP:
        # the ontology-bounded assumption is load-bearing: a store whose
        # INSTANCE data carries rdfs:/owl: vocabulary at scale would
        # otherwise silently materialize on the driver — fail loudly
        # instead (round 12, VERDICT r11 item 7)
        raise RuntimeError(
            f"schema context exceeds {_SCHEMA_COLLECT_CAP} rows: the "
            "store's rdfs:/owl: schema statements no longer fit the "
            "driver-side ontology bound this module assumes; raise "
            "SPARK_GRAFT_SCHEMA_CAP only if the driver has the memory"
        )

    def pair_rows(pred):
        return sorted(
            {(r.s, r.o_lex) for r in srows
             if r.p == pred and r.o_kind == KIND_IRI}
        )

    def prop_rows(cls):
        return sorted(
            {(r.s,) for r in srows if r.p == RDF_TYPE and r.o_lex == cls}
        )

    def pair_df(rows):
        return F.broadcast(local_df(spark, rows, "a string, b string"))

    def prop_df(rows, alias):
        return F.broadcast(local_df(spark, rows, f"{alias} string"))

    subp = pair_rows(_SUBPROP)
    subc = pair_rows(_SUBCLASS)
    dom = pair_rows(_DOMAIN)
    rng = pair_rows(_RANGE)
    inv = pair_rows(_INVERSE)
    eqp = pair_rows(_EQ_PROP)
    eqc = pair_rows(_EQ_CLASS)
    same = pair_rows(_SAME_AS)
    sym = prop_rows(_SYMMETRIC)
    trans = prop_rows(_TRANSITIVE)
    fun = prop_rows(_FUNCTIONAL)
    ifun = prop_rows(_INV_FUNCTIONAL)

    def both(rows):
        return sorted(set(rows) | {(b, a) for a, b in rows})

    # broadcast frames only for the tables too large to inline (see
    # _SCHEMA_LIT_MAX): _round reads a frame only when the literal path
    # declines the table, so building all twelve paid ~12 local frames'
    # Py4J traffic per extraction for nothing
    frames = {
        "subp": (subp, pair_df), "subc": (subc, pair_df),
        "dom": (dom, pair_df), "rng": (rng, pair_df),
        "inv_both": (both(inv), pair_df), "eqp_both": (both(eqp), pair_df),
        "eqc_both": (both(eqc), pair_df), "same_pairs": (same, pair_df),
        "sym_props": (sym, lambda r: prop_df(r, "a")),
        "trans_props": (trans, lambda r: prop_df(r, "tp")),
        "fun_props": (fun, lambda r: prop_df(r, "fp")),
        "ifun_props": (ifun, lambda r: prop_df(r, "fp")),
    }
    ctx = {
        name: build(rows)
        for name, (rows, build) in frames.items()
        if len(rows) > _SCHEMA_LIT_MAX
    }
    ctx.update({
        # exact per-relation guards: a rule whose schema side is empty
        # cannot produce a row — _round skips its joins outright
        "has_subp": bool(subp),
        "has_subc": bool(subc),
        "has_dom": bool(dom),
        "has_rng": bool(rng),
        "has_inv": bool(inv),
        "has_eqp": bool(eqp),
        "has_eqc": bool(eqc),
        "has_same": bool(same),
        "has_sym": bool(sym),
        "has_trans": bool(trans),
        "has_fun": bool(fun),
        "has_ifun": bool(ifun),
        "srows": srows,
        # raw driver-side rows (round 12): small schema tables inline
        # into the rule expressions as literal maps / IN-lists instead of
        # broadcast joins — every broadcast materialization was a
        # separate Spark job, ~50 of the DRed gate flow's 73 DELETE-phase
        # jobs were broadcast exchanges of these always-tiny tables
        "subp_rows": subp,
        "subc_rows": subc,
        "dom_rows": dom,
        "rng_rows": rng,
        "inv_both_rows": both(inv),
        "eqp_both_rows": both(eqp),
        "eqc_both_rows": both(eqc),
        "same_pairs_rows": same,
        "sym_list": [r[0] for r in sym],
        "trans_list": [r[0] for r in trans],
        "fun_list": [r[0] for r in fun],
        "ifun_list": [r[0] for r in ifun],
    })
    return ctx


# Schema tables up to this many rows inline into the rule expressions as
# literal maps / IN-lists (zero broadcast jobs, zero join operators, pure
# map-side). Larger tables keep the broadcast-join path — a literal-map
# lookup is a linear scan per row, so it must not replace the hash join
# for genuinely large ontologies. Env-tunable for cluster operators.
_SCHEMA_LIT_MAX = int(os.environ.get("SPARK_GRAFT_SCHEMA_LIT_MAX", "1024"))


def _pair_map_col(rows):
    """Literal map a → array(b, …) for a small schema pair table; a map
    lookup + explode replaces the broadcast inner join exactly (absent
    key → null → explode emits nothing)."""
    bs: dict[str, list[str]] = {}
    for a, b in rows:
        bs.setdefault(a, []).append(b)
    entries: list = []
    for a, vals in bs.items():
        entries.append(F.lit(a))
        entries.append(F.array(*[F.lit(v) for v in vals]))
    return F.create_map(*entries)


def _round(all_df: DataFrame, inst: DataFrame | None, ctx: dict) -> DataFrame:
    """One application of every RDFS-Plus rule; returns candidate triples
    (possibly already known). ``ctx`` (see ``_schema_ctx``) supplies the
    schema tables, extracted once per loop (``_schema_cache``).

    Semi-naive evaluation: ``inst`` is the instance-side input for the
    high-volume rules (subPropertyOf use, domain/range, inverse/equivalent
    rewrites, symmetric swap, rdfs9 inheritance, sameAs propagation) — the
    caller passes last round's DELTA when the delta contains no schema
    triples, so those rules join O(|delta|) rows instead of O(|all|).
    Schema maps always read the full set — a new schema fact forces a
    full round via _touches_schema.

    Delta rounds are DELTA-EXACT: every candidate they emit has ≥1 body
    triple in ``inst``. Pure-schema rules (sub-prop/sub-class
    transitivity, equivalentClass expansion, sameAs transitivity) are
    skipped — a schema-free delta cannot feed them, so their output
    would be (a) wasted anti-join work on the insert path and (b) a
    spurious "overdeleted" set on the DRed delete path
    (inference/dred.py), which overdeletes exactly the candidates a
    round claims were delta-derived. The self-join rules (transitive
    step, (inverse-)functional → sameAs) compose delta-against-full on
    BOTH sides instead of full×full — the same completeness, |Δ|-sized
    probes."""
    outs: list[DataFrame] = []
    facts = all_df
    delta = inst  # None → full round
    if inst is None:
        inst = all_df

    def _lit(key):
        # raw driver-side rows when the table is small enough for the
        # literal-expression path (see _SCHEMA_LIT_MAX) — None selects the
        # broadcast-join path over the ctx's frame of the same table
        rows = ctx[key]
        return rows if len(rows) <= _SCHEMA_LIT_MAX else None

    def _local_pairs(rows, pred):
        # driver-computed schema-level rule output (pure-schema rules run
        # in full rounds only and read ontology-sized tables that the ctx
        # already holds on the driver — no pair-table self-join needed)
        from dublin_smart_city_graphdb_spark.session import local_df

        df = local_df(all_df.sparkSession, rows, "sa string, sb string")
        return _type_triple(df, "sa", "sb").withColumn("p", F.lit(pred))

    # rdfs7: subPropertyOf use  (schema side broadcast or literal map)
    if ctx["has_subp"]:
        subp_rows = _lit("subp_rows")
        if subp_rows is not None:
            outs.append(
                inst.select(
                    "s",
                    F.explode(
                        _pair_map_col(subp_rows)[F.col("p")]
                    ).alias("p"),
                    "o_kind", "o_lex", "o_dtype", "o_lang", "o_num",
                    "o_ts", "o_bool",
                )
            )
        else:
            subp = ctx["subp"]
            outs.append(
                inst.join(subp, inst.p == subp.a)
                .select(
                    "s", F.col("b").alias("p"), "o_kind", "o_lex", "o_dtype",
                    "o_lang", "o_num", "o_ts", "o_bool",
                )
            )
        # rdfs5: subPropertyOf transitivity (schema-level; full rounds only
        # — a schema-free delta cannot feed it)
        if delta is None:
            if subp_rows is not None:
                pairs = sorted({
                    (a, c)
                    for a, b in subp_rows
                    for b2, c in subp_rows
                    if b2 == b
                })
                if pairs:
                    outs.append(_local_pairs(pairs, _SUBPROP))
            else:
                subp = ctx["subp"]
                sp_trans = (
                    subp.alias("x")
                    .join(subp.alias("y"), F.col("x.b") == F.col("y.a"))
                    .select(F.col("x.a").alias("sa"), F.col("y.b").alias("sb"))
                )
                outs.append(
                    _type_triple(sp_trans, "sa", "sb")
                    .withColumn("p", F.lit(_SUBPROP))
                )
    # rdfs11: subClassOf transitivity (schema-level; full rounds only)
    if ctx["has_subc"]:
        subc_rows = _lit("subc_rows")
        if delta is None:
            if subc_rows is not None:
                pairs = sorted({
                    (a, c)
                    for a, b in subc_rows
                    for b2, c in subc_rows
                    if b2 == b
                })
                if pairs:
                    outs.append(_local_pairs(pairs, _SUBCLASS))
            else:
                subc = ctx["subc"]
                sc_trans = (
                    subc.alias("x")
                    .join(subc.alias("y"), F.col("x.b") == F.col("y.a"))
                    .select(F.col("x.a").alias("sa"), F.col("y.b").alias("sb"))
                )
                outs.append(
                    _type_triple(sc_trans, "sa", "sb")
                    .withColumn("p", F.lit(_SUBCLASS))
                )
        # rdfs9: subClassOf inheritance
        types = inst.filter(F.col("p") == RDF_TYPE)
        if subc_rows is not None:
            outs.append(
                _type_triple(
                    types.select(
                        F.col("s").alias("ss"),
                        F.explode(
                            _pair_map_col(subc_rows)[F.col("o_lex")]
                        ).alias("cc"),
                    ),
                    "ss", "cc",
                )
            )
        else:
            subc = ctx["subc"]
            outs.append(
                _type_triple(
                    types.join(subc, types.o_lex == subc.a).select(
                        F.col("s").alias("ss"), F.col("b").alias("cc")
                    ),
                    "ss", "cc",
                )
            )
    # rdfs2/3: domain / range
    if ctx["has_dom"]:
        dom_rows = _lit("dom_rows")
        if dom_rows is not None:
            outs.append(
                _type_triple(
                    inst.select(
                        F.col("s").alias("ss"),
                        F.explode(
                            _pair_map_col(dom_rows)[F.col("p")]
                        ).alias("cc"),
                    ),
                    "ss", "cc",
                )
            )
        else:
            dom = ctx["dom"]
            outs.append(
                _type_triple(
                    inst.join(dom, inst.p == dom.a).select(
                        F.col("s").alias("ss"), F.col("b").alias("cc")
                    ),
                    "ss", "cc",
                )
            )
    if ctx["has_rng"]:
        rng_rows = _lit("rng_rows")
        if rng_rows is not None:
            outs.append(
                _type_triple(
                    inst.filter(F.col("o_kind") != 2).select(
                        F.col("o_lex").alias("ss"),
                        F.explode(
                            _pair_map_col(rng_rows)[F.col("p")]
                        ).alias("cc"),
                    ),
                    "ss", "cc",
                )
            )
        else:
            rng = ctx["rng"]
            outs.append(
                _type_triple(
                    inst.filter(F.col("o_kind") != 2)
                    .join(rng, inst.p == rng.a)
                    .select(F.col("o_lex").alias("ss"), F.col("b").alias("cc")),
                    "ss", "cc",
                )
            )
    # inverseOf (both directions) + equivalentProperty (both directions)
    if ctx["has_inv"]:
        inv_rows = _lit("inv_both_rows")
        if inv_rows is not None:
            fi = inst.select(
                "*",
                F.explode(_pair_map_col(inv_rows)[F.col("p")]).alias("b"),
            )
        else:
            inv_both = ctx["inv_both"]
            fi = inst.join(F.broadcast(inv_both), inst.p == F.col("a"))
        outs.append(_swap_so(fi, F.col("b")))
    if ctx["has_eqp"]:
        eqp_rows = _lit("eqp_both_rows")
        if eqp_rows is not None:
            outs.append(
                inst.select(
                    "s",
                    F.explode(
                        _pair_map_col(eqp_rows)[F.col("p")]
                    ).alias("p"),
                    "o_kind", "o_lex", "o_dtype", "o_lang", "o_num",
                    "o_ts", "o_bool",
                )
            )
        else:
            eqp_both = ctx["eqp_both"]
            fe = inst.join(F.broadcast(eqp_both), inst.p == F.col("a"))
            outs.append(
                fe.select(
                    "s", F.col("b").alias("p"), "o_kind", "o_lex", "o_dtype",
                    "o_lang", "o_num", "o_ts", "o_bool",
                )
            )
    # equivalentClass → mutual subClassOf (handled through rdfs9 next
    # round; schema-level — full rounds only)
    if delta is None and ctx["has_eqc"]:
        eqc_rows = _lit("eqc_both_rows")
        if eqc_rows is not None:
            outs.append(_local_pairs(list(eqc_rows), _SUBCLASS))
        else:
            eqc_both = ctx["eqc_both"]
            outs.append(
                _type_triple(
                    eqc_both.select(
                        F.col("a").alias("sa"), F.col("b").alias("sb")
                    ),
                    "sa", "sb",
                ).withColumn("p", F.lit(_SUBCLASS))
            )
    # SymmetricProperty
    if ctx["has_sym"]:
        sym_list = _lit("sym_list")
        if sym_list is not None:
            outs.append(
                _swap_so(inst.filter(F.col("p").isin(sym_list)), F.col("p"))
            )
        else:
            sym_props = ctx["sym_props"]
            outs.append(
                _swap_so(
                    inst.join(sym_props, inst.p == F.col("a")), F.col("p")
                )
            )
    # TransitiveProperty: one join step per round (outer loop closes it).
    # tfacts deliberately comes from the CURRENT fact set, never the ctx
    # cache — the transitive-fact table grows with the fixpoint
    has_trans = ctx["has_trans"]
    trans_list = _lit("trans_list") if has_trans else None
    if not has_trans:
        trans_props = None
        tfacts = None
    elif trans_list is not None:
        trans_props = None
        tfacts = facts.filter(F.col("p").isin(trans_list)).filter(
            F.col("o_kind") != 2
        )
    else:
        trans_props = ctx["trans_props"]
        tfacts = facts.join(trans_props, facts.p == F.col("tp")).filter(
            F.col("o_kind") != 2
        )

    def _tstep(left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            left.alias("x")
            .join(
                right.alias("y"),
                (F.col("x.o_lex") == F.col("y.s"))
                & (F.col("x.p") == F.col("y.p")),
            )
            .select(
                F.col("x.s").alias("s"), F.col("x.p").alias("p"),
                F.col("y.o_kind").alias("o_kind"),
                F.col("y.o_lex").alias("o_lex"),
                F.col("y.o_dtype").alias("o_dtype"),
                F.col("y.o_lang").alias("o_lang"),
                F.col("y.o_num").alias("o_num"),
                F.col("y.o_ts").alias("o_ts"),
                F.col("y.o_bool").alias("o_bool"),
            )
        )

    if delta is None:
        if has_trans:
            outs.append(_tstep(tfacts, tfacts))
    elif has_trans:
        # Δ-exact: one composition side from the delta, the other from the
        # full set — |Δ| probes instead of a full self-join per round
        if trans_list is not None:
            tdelta = delta.filter(F.col("p").isin(trans_list)).filter(
                F.col("o_kind") != 2
            )
        else:
            tdelta = delta.join(trans_props, delta.p == F.col("tp")).filter(
                F.col("o_kind") != 2
            )
        outs.append(_tstep(tdelta, tfacts))
        outs.append(_tstep(tfacts, tdelta))
    # sameAs: symmetry + one transitive step per round. The symmetry swap
    # is inst-side (a delta can carry sameAs only into FULL rounds — it is
    # a schema predicate — so in delta rounds `same` is provably empty and
    # the guard also covers stores with no sameAs at all).
    if ctx["has_same"] or delta is None:
        same = inst.filter(
            (F.col("p") == _SAME_AS) & (F.col("o_kind") == KIND_IRI)
        )
        outs.append(_swap_so(same, F.col("p")))
    if ctx["has_same"]:
        same_rows = _lit("same_pairs_rows")
        if delta is None:
            # sameAs transitivity over the pair table (sameAs is in
            # _SCHEMA_PREDS, so a delta carrying one forces full rounds —
            # this rule can never fire from a schema-free delta)
            if same_rows is not None:
                pairs = sorted({
                    (a, c)
                    for a, b in same_rows
                    for b2, c in same_rows
                    if b2 == b and a != c
                })
                if pairs:
                    outs.append(_local_pairs(pairs, _SAME_AS))
            else:
                same_pairs = ctx["same_pairs"]
                sa_trans = (
                    same_pairs.alias("x")
                    .join(same_pairs.alias("y"), F.col("x.b") == F.col("y.a"))
                    .filter(F.col("x.a") != F.col("y.b"))
                    .select(F.col("x.a").alias("sa"), F.col("y.b").alias("sb"))
                )
                outs.append(
                    _type_triple(sa_trans, "sa", "sb")
                    .withColumn("p", F.lit(_SAME_AS))
                )
        # sameAs statement propagation (subject position)
        if same_rows is not None:
            outs.append(
                inst.select(
                    F.explode(
                        _pair_map_col(same_rows)[F.col("s")]
                    ).alias("s"),
                    "p", "o_kind", "o_lex", "o_dtype",
                    "o_lang", "o_num", "o_ts", "o_bool",
                )
            )
        else:
            same_pairs = ctx["same_pairs"]
            outs.append(
                inst.join(same_pairs, inst.s == same_pairs.a)
                .select(
                    F.col("b").alias("s"), "p", "o_kind", "o_lex", "o_dtype",
                    "o_lang", "o_num", "o_ts", "o_bool",
                )
            )
    # Functional / InverseFunctional → sameAs
    has_fun = ctx["has_fun"]
    fun_list = _lit("fun_list") if has_fun else None
    if not has_fun:
        fun_props = None
        ffacts = None
    elif fun_list is not None:
        fun_props = None
        ffacts = facts.filter(F.col("p").isin(fun_list)).filter(
            F.col("o_kind") == KIND_IRI
        )
    else:
        fun_props = ctx["fun_props"]
        ffacts = facts.join(fun_props, facts.p == F.col("fp")).filter(
            F.col("o_kind") == KIND_IRI
        )

    def _fun_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
        return _type_triple(
            left.alias("x")
            .join(
                right.alias("y"),
                (F.col("x.s") == F.col("y.s")) & (F.col("x.p") == F.col("y.p"))
                & (F.col("x.o_lex") < F.col("y.o_lex")),
            )
            .select(F.col("x.o_lex").alias("sa"), F.col("y.o_lex").alias("sb")),
            "sa", "sb",
        ).withColumn("p", F.lit(_SAME_AS))

    if delta is None:
        if has_fun:
            outs.append(_fun_pairs(ffacts, ffacts))
    elif has_fun:
        if fun_list is not None:
            fdelta = delta.filter(F.col("p").isin(fun_list)).filter(
                F.col("o_kind") == KIND_IRI
            )
        else:
            fdelta = delta.join(fun_props, delta.p == F.col("fp")).filter(
                F.col("o_kind") == KIND_IRI
            )
        outs.append(_fun_pairs(fdelta, ffacts))
        outs.append(_fun_pairs(ffacts, fdelta))
    has_ifun = ctx["has_ifun"]
    ifun_list = _lit("ifun_list") if has_ifun else None
    if not has_ifun:
        ifun_props = None
        iffacts = None
    elif ifun_list is not None:
        ifun_props = None
        iffacts = facts.filter(F.col("p").isin(ifun_list))
    else:
        ifun_props = ctx["ifun_props"]
        iffacts = facts.join(ifun_props, facts.p == F.col("fp"))

    def _ifun_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
        return _type_triple(
            left.alias("x")
            .join(
                right.alias("y"),
                (F.col("x.o_lex") == F.col("y.o_lex"))
                & (F.col("x.o_kind") == F.col("y.o_kind"))
                & F.col("x.o_dtype").eqNullSafe(F.col("y.o_dtype"))
                & F.col("x.o_lang").eqNullSafe(F.col("y.o_lang"))
                & (F.col("x.p") == F.col("y.p"))
                & (F.col("x.s") < F.col("y.s")),
            )
            .select(F.col("x.s").alias("sa"), F.col("y.s").alias("sb")),
            "sa", "sb",
        ).withColumn("p", F.lit(_SAME_AS))

    if delta is None:
        if has_ifun:
            outs.append(_ifun_pairs(iffacts, iffacts))
    elif has_ifun:
        if ifun_list is not None:
            ifdelta = delta.filter(F.col("p").isin(ifun_list))
        else:
            ifdelta = delta.join(ifun_props, delta.p == F.col("fp"))
        outs.append(_ifun_pairs(ifdelta, iffacts))
        outs.append(_ifun_pairs(iffacts, ifdelta))

    if not outs:
        # every rule branch was skipped by an exact schema guard — the
        # round provably derives nothing
        return inst.select(*_SPO_COLS).limit(0)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_SPO_COLS = [
    "s", "p", "o_kind", "o_lex", "o_dtype", "o_lang", "o_num", "o_ts", "o_bool"
]


def materialize(explicit: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Run the rule batch to fixpoint; returns ONLY the inferred quads,
    tagged ``g = urn:inferred``. ``explicit`` must be cheap to rescan
    (store/checkpoint-backed) — the loop keeps it LAZY rather than
    copying the store into the block manager; duplicate SPO rows across
    graphs are tolerated (see ``_fixpoint``)."""
    return _fixpoint(explicit.select(*_SPO_COLS), None, max_rounds)


def materialize_incremental(
    base: DataFrame, new_explicit: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Inferred quads NEWLY entailed by adding ``new_explicit`` to ``base``
    (base = current explicit ∪ already-materialized inferred). RDFS-Plus
    rules are monotone, so closure(base ∪ Δ) = closure(base) ∪
    (Δ-seeded fixpoint) — the high-volume rules join only the Δ each
    round, never re-deriving the existing closure. If Δ contains SCHEMA
    triples (new subClassOf, domain, sameAs, property declarations …)
    the first round falls back to a full re-evaluation via
    ``_touches_schema``, because new rule inputs can fire on old
    statements. Appending a data batch costs O(|Δ| ⋈ schema), not
    O(|store|) — the difference between an ingest pipeline and a nightly
    rebuild at 100 TB."""
    base_spo = base.select(*_SPO_COLS)
    delta_spo = (
        new_explicit.select(*_SPO_COLS).distinct().localCheckpoint(eager=True)
    )
    return _fixpoint(
        base_spo.unionByName(delta_spo), delta_spo, max_rounds
    )


def _schema_cache():
    """``ctx_for(known, full, same_schema=False)``: the ``_schema_ctx`` a
    round of one loop runs with. Built on first use and reused by
    schema-free delta rounds (their schema subset is identical by the
    touches-schema contract); a FULL round rebuilds it from its statement
    set — full rounds run exactly when the schema may have changed —
    unless the caller vouches that it has not (``same_schema``: DRed's
    rederive round, whose survivors hold exactly the old view's schema).
    ``ctx_for.box`` holds the current ctx."""
    box: dict = {}

    def ctx_for(known: DataFrame, full: bool, same_schema: bool = False):
        if "ctx" not in box or (full and not same_schema):
            box["ctx"] = _schema_ctx(known)
        return box["ctx"]

    ctx_for.box = box
    return ctx_for


def _cached_round_fn():
    """The built-in rule batch with one schema-context extraction shared
    by every round that may share it (``_schema_cache``)."""
    ctx_for = _schema_cache()

    def round_fn(known: DataFrame, inst, same_schema: bool = False):
        return _round(
            known, inst, ctx=ctx_for(known, inst is None, same_schema)
        )

    def can_rederive(cands: DataFrame) -> bool:
        """Could ANY candidate be the head of some rule instantiation
        under the current schema? False lets DRed skip its rederive
        round entirely — the common leaf-delete case then costs pure
        Δ-work. Conservative: unknown ⇒ True. Sound because the schema
        tables come from the OLD view, a superset of the survivors'."""
        ctx = ctx_for.box.get("ctx")
        if ctx is None:
            return True
        # the schema subset was collected once when the ctx was built;
        # head tables are recomputed driver-side (they are ontology-sized)
        srows = ctx["srows"]
        head_preds: set = set()
        head_classes: set = set()
        for r in srows:
            if r.p == _SAME_AS:
                return True  # sameAs propagation re-derives ANY predicate
            if r.p == _SUBPROP:
                head_preds.add(r.o_lex)
            elif r.p in (_INVERSE, _EQ_PROP):
                head_preds.add(r.s)
                head_preds.add(r.o_lex)
            elif r.p in (_SUBCLASS, _DOMAIN, _RANGE):
                head_classes.add(r.o_lex)
            elif r.p == RDF_TYPE:
                if r.o_lex in (_SYMMETRIC, _TRANSITIVE):
                    head_preds.add(r.s)
                elif r.o_lex in (_FUNCTIONAL, _INV_FUNCTIONAL):
                    head_preds.add(_SAME_AS)
            elif r.p == _EQ_CLASS:
                head_classes.add(r.s)
                head_classes.add(r.o_lex)
        if len(head_preds) + len(head_classes) > 10_000:
            return True  # unusually wide schema: skip the prune
        cond = F.lit(False)
        if head_preds:
            cond = cond | F.col("p").isin(*head_preds)
        if head_classes:
            cond = cond | (
                (F.col("p") == RDF_TYPE) & F.col("o_lex").isin(*head_classes)
            )
        return not cands.filter(cond).isEmpty()

    round_fn.can_rederive = can_rederive
    return round_fn


def retract_incremental(
    explicit_new: DataFrame, inferred_old: DataFrame, deleted: DataFrame,
    max_rounds: int = 20,
) -> DataFrame | None:
    """DRed maintenance of the RDFS-Plus closure after removing
    ``deleted`` from the explicit store (inference/dred.py): Δ-seeded
    overdeletion over the old view, one rederive round over the
    survivors, Δ-seeded propagation of the rederivations. Returns the
    maintained inferred quads, or None when the delta touches rule
    schema (deleted axioms change the rules — the caller must
    re-materialize fully). Inputs must be cheap to rescan
    (checkpoint-backed or map-side projections of one) — no full-store
    copy is materialized here; see dred.retract's scale note."""
    from dublin_smart_city_graphdb_spark.inference.dred import retract

    return retract(
        explicit_new.select(*_SPO_COLS),
        inferred_old.select(*_SPO_COLS),
        deleted.select(*_SPO_COLS),
        _cached_round_fn(), _touches_schema, max_rounds,
    )


def _fixpoint(
    known: DataFrame, delta: DataFrame | None, max_rounds: int,
    round_fn=None, touches_schema=None,
) -> DataFrame:
    """Rule fixpoint shared by full and incremental materialization and
    DRed propagation, on the engine's one semi-naive loop
    (``plans.ckpt.semi_naive``); ``delta=None`` means round 0 evaluates
    every rule on the full statement set. ``round_fn(known, inst) ->
    candidates`` defaults to the built-in RDFS-Plus rule batch;
    inference/custom.py plugs in a CONSTRUCT-rule batch for user-defined
    rulesets. ``touches_schema`` overrides the schema-delta check (the
    extended rulesets guard a wider vocabulary — inference/delta.py); its
    ``.cond`` predicate is the loop's probe flag, so a round whose fresh
    triples touch the schema is followed by a full round (new rule inputs
    can fire on OLD statements) at no extra job. Raises ``RuntimeError``
    when the closure is still growing after ``max_rounds`` rounds.

    Scale note: only each round's FRESH set is checkpointed. ``known``
    grows as a LAZY union of the caller's base (which must be cheap to
    rescan — checkpoint/store-backed) plus those fresh checkpoints.
    Duplicate rows in the base are tolerated: candidates are
    de-duplicated and the anti-join only probes membership."""
    from ..plans.ckpt import semi_naive

    if round_fn is None:
        round_fn = _cached_round_fn()
    touch_fn = touches_schema or _touches_schema

    def step(delta, known, touches):
        return round_fn(known, None if delta is None or touches else delta)

    inferred, _ = semi_naive(
        known, delta, step, _ID_COLS, max_rounds, "inference fixpoint",
        flag=touch_fn.cond,
        # the seed's own schema probe stays isEmpty-shaped: an aggregate
        # over a fresh Δ costs one more shuffle-map job
        flagged=delta is not None and touch_fn(delta),
    )
    return inferred.select(F.lit(INFERRED_GRAPH).alias("g"), *_SPO_COLS)
