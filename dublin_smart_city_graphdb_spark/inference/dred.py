"""DRed (delete-and-rederive) maintenance of the inference closure.

The reference materializes at load time (init-graphdb.sh:51-55) and —
like GraphDB's "smooth delete" — must keep the closure consistent when
statements are REMOVED, not just added. r7/r8 gave inserts a Δ-seeded
semi-naive path (rdfsplus built-in seeding; GRAPH-marker variants in
inference/delta.py for the extended rulesets); before this module every
DELETE re-ran the full fixpoint: O(|store| × rounds) per delete batch,
a nightly-rebuild cost model at 100 TB.

Classic DRed, expressed over the same round functions the insert path
already uses (``round_fn(known, inst)`` returns every conclusion whose
body uses ≥1 ``inst`` triple — a superset is sound here exactly as it
is for inserts):

1. **Overdelete** (Δ-seeded, cost ∝ affected set): seed the round
   function with the deleted explicit triples against the OLD full view
   (surviving explicit ∪ deleted ∪ old inferred); any conclusion that
   lands in the still-standing inferred set is *potentially* unsupported
   and joins the next round's seed. Loops until no inferred triple is
   newly touched — bounded by the derivation depth of the affected
   region, never the store.
2. **Rederive**: one full rule round over the SURVIVING view picks up
   alternative depth-1 derivations of overdeleted (or deleted-explicit)
   triples; a Δ-seeded insert fixpoint (``rdfsplus._fixpoint``) then
   propagates those rederivations to any deeper chains that pass through
   them. Completeness argument: any derivation tree from survivors has
   internal nodes either already surviving (flattened into the round) or
   themselves in the overdeleted set (rederived at a shallower depth
   first — induction through the propagation fixpoint).

The common case — deleting leaf facts nothing was derived from — costs
one Δ-sized overdeletion probe and stops: no rederive round at all.
Schema-touching deltas (deleted OR overdeleted) return ``None`` and the
caller falls back to a full re-materialization, the same contract as
the insert path's ``touches_schema`` fallback.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dublin_smart_city_graphdb_spark.inference.rdfsplus import (
    _fixpoint,
    _ID_COLS,
    _SPO_COLS,
)
from dublin_smart_city_graphdb_spark.model.schema import INFERRED_GRAPH


def _nullsafe_cond(left: str, right: str):
    cond = None
    for c in _ID_COLS:
        clause = F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
        cond = clause if cond is None else (cond & clause)
    return cond


def _semi(base: DataFrame, probe: DataFrame) -> DataFrame:
    """base ⋉ probe on the identity columns (null-safe: o_dtype/o_lang
    are NULL on most inferred triples)."""
    return base.alias("b").join(
        probe.select(*_ID_COLS).alias("p"),
        on=_nullsafe_cond("b", "p"),
        how="left_semi",
    )


def _anti(base: DataFrame, probe: DataFrame) -> DataFrame:
    return base.alias("b").join(
        probe.select(*_ID_COLS).alias("p"),
        on=_nullsafe_cond("b", "p"),
        how="left_anti",
    )


def retract(
    explicit_mid: DataFrame,
    inferred_old: DataFrame,
    deleted: DataFrame,
    round_fn,
    touches_schema,
    max_rounds: int = 20,
) -> DataFrame | None:
    """Maintain the inferred set after removing ``deleted`` from the
    explicit store. All inputs are SPO frames (``_SPO_COLS``), already
    distinct; ``explicit_mid`` is the explicit set AFTER the deletion
    (disjoint from ``deleted``), ``inferred_old`` the previously
    materialized closure (disjoint from the old explicit set by the
    ``_fixpoint`` anti-join contract).

    Returns the new inferred SPO set tagged ``g = urn:inferred``, or
    ``None`` when the delta touches rule schema (deleted axioms change
    the rules themselves — the caller must re-materialize fully). A
    non-converged overdeletion (> max_rounds) also returns ``None``:
    under-deletion would silently KEEP unsupported inferences, so the
    fallback is the only sound exit.

    One schema extraction serves the whole call: the overdeletion
    rounds build the rule schema from the old view, and the rederive
    round reuses it (``round_fn(..., same_schema=True)``) — the
    survivors hold exactly the old view's schema triples, since a
    schema-touching deleted or overdeleted triple has already returned
    ``None``.

    Scale note: this function materializes NO full-store copy. The
    unioned views (old view, survivors) stay LAZY — their members are
    mutually disjoint so no distinct is needed, and duplicate SPO rows
    (a triple asserted in several graphs) are tolerated: they only
    duplicate rule candidates, which every consumer dedups
    (``dropDuplicates`` on candidates, semi-join probes, ``_fixpoint``'s
    anti-join). Callers should pass frames that are cheap to rescan and
    cheap to plan: checkpoint-backed, or the store under one map-side
    filter (the engine's ground-batch path hands in the store minus the
    deleted triples as a single key-set filter, which every round's plan
    re-reads)."""
    from dublin_smart_city_graphdb_spark.plans.ckpt import CheckpointTracker

    if touches_schema(deleted):
        return None
    if not getattr(round_fn, "delta_exact", True):
        # a non-rewritable rule body would run FULL in delta rounds —
        # its non-delta-derived output would be spuriously overdeleted;
        # sound only via the full rebuild
        return None

    tr = CheckpointTracker(explicit_mid)
    old_known = (
        explicit_mid.unionByName(deleted).unionByName(inferred_old)
    )
    # `remaining` = inferred triples not yet overdeleted; shrinks as the
    # overdeletion frontier expands. Round 12 (fused round): the semi
    # (this round's overdeletions) and the anti (the survivors) are ONE
    # left join carrying an `_over` flag, lazily checkpointed, and the
    # schema/emptiness probe is the materializing action — one job and
    # one join per round where the semi-checkpoint + probe +
    # anti-checkpoint shape paid three jobs and two joins.
    remaining = inferred_old
    remaining_ids: set = set()
    had_overdel = False
    seed = deleted
    converged = False
    cond = touches_schema.cond
    for _ in range(max_rounds):
        cand = round_fn(old_known, seed).dropDuplicates(_ID_COLS)
        probe = cand.select(*_ID_COLS).withColumn("_m", F.lit(1))
        tagged, new_ids = tr.checkpoint(
            remaining.alias("b")
            .join(probe.alias("p"), on=_nullsafe_cond("b", "p"), how="left")
            .select(
                *[F.col(f"b.{c}").alias(c) for c in _SPO_COLS],
                F.col("_m").isNotNull().alias("_over"),
            ),
            fresh=True,
            eager=False,
        )
        row = tagged.agg(
            F.count(F.when(F.col("_over"), F.lit(1))).alias("n"),
            F.count(F.when(F.col("_over") & cond(), F.lit(1))).alias("ts"),
        ).first()
        non_empty, over_touches = row.n > 0, row.ts > 0
        if not non_empty:
            tr.free(new_ids)
            converged = True
            break
        if over_touches:
            # an inferred schema triple (e.g. derived subClassOf) lost
            # support — the rule set itself may shrink; full rebuild
            tr.free(new_ids)
            tr.free(remaining_ids)
            return None
        had_overdel = True
        seed = tagged.filter(F.col("_over")).select(*_SPO_COLS)
        # the previous generation's blocks feed nothing once `tagged` is
        # materialized (localCheckpoint lineage is self-contained)
        tr.free(remaining_ids)
        remaining = tagged.filter(~F.col("_over")).select(*_SPO_COLS)
        remaining_ids = new_ids
    if not converged:
        tr.free(remaining_ids)
        return None
    if not had_overdel:
        # nothing derived depended on the deleted facts — but a deleted
        # EXPLICIT triple may itself still be entailed by the survivors
        # (it must reappear as inferred, matching what a full rebuild
        # would produce); probe with one rule round only if some rule
        # can produce it at all, i.e. run the same rederive round with
        # candidates = deleted.
        candidates = deleted
    else:
        # everything overdeleted ≡ the old inferred set minus the
        # survivors — one anti-join replaces the old per-generation
        # union accumulation (whose views pinned every generation's
        # checkpoint blocks for the whole loop)
        candidates = _anti(inferred_old, remaining).unionByName(deleted)

    # cheap head-unification prune: when no candidate can be ANY rule's
    # head under the current schema (a driver-side check over the tiny
    # schema tables), the rederive round — the one remaining full rule
    # pass — is skipped and the delete costs pure Δ-work
    checker = getattr(round_fn, "can_rederive", None)
    if checker is not None and not checker(candidates):
        return remaining.select(
            F.lit(INFERRED_GRAPH).alias("g"), *_SPO_COLS
        )

    survive = explicit_mid.unionByName(remaining)
    from dublin_smart_city_graphdb_spark.plans.ckpt import fresh_ids

    red0 = fresh_ids(
        _semi(
            candidates,
            round_fn(survive, None, same_schema=True).dropDuplicates(
                _ID_COLS
            ),
        )
        .localCheckpoint(eager=True)
    )
    new_inferred = remaining
    if not red0.isEmpty():
        known0 = survive.unionByName(red0)
        extra = _fixpoint(
            known0, red0, max_rounds, round_fn=round_fn,
            touches_schema=touches_schema,
        ).select(*_SPO_COLS)
        new_inferred = new_inferred.unionByName(red0).unionByName(extra)
    return new_inferred.select(
        F.lit(INFERRED_GRAPH).alias("g"), *_SPO_COLS
    )
