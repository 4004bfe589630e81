"""The engine's one semi-naive fixpoint loop and the checkpoint lifecycle
it runs on.

``semi_naive`` grows a set until a round derives nothing new: transitive
closure, BFS and path search (graph/), rule inference and DRed
propagation (inference/rdfsplus.py ``_fixpoint``) and DESCRIBE's
blank-node walk. Each round is one dataflow superstep (Pregelix): the
caller's ``step`` joins only last round's new rows, the loop anti-joins
the result null-safely against everything known, and one aggregate probe
both materializes the lazily checkpointed fresh rows and tests for
emptiness. The state-replace kernels (PageRank, connected components,
SSSP, HITS, label propagation, k-core) use ``CheckpointTracker`` directly.

``CheckpointTracker`` makes block reclamation explicit. Iterative loops
checkpoint every round to truncate lineage; the blocks of a *superseded*
generation are garbage, but Spark only reclaims them when the JVM
garbage-collects the RDD object, which a long-lived driver (a test
session, a server, a notebook) may not do for hours — pinning driver
heap and executor storage memory the shuffle needs. ``checkpoint(df)``
records which persistent-RDD id the materialization created, and
``free(ids)`` unpersists a superseded generation the moment its
successor is safely materialized. Freeing is strictly for generations no
live DataFrame references: a localCheckpoint has no lineage to recompute
from, so unpersisting a still-referenced one would fail later jobs
loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).

Ownership is derived from the checkpointed DataFrame itself, not by
diffing the process-global ``getPersistentRDDs`` set: ``Dataset
.localCheckpoint`` returns a plan whose root is a ``LogicalRDD`` wrapping
the very RDD that was persisted, so that RDD's id IS the generation. A
global before/after diff would race — fixpoints run concurrently across
server threads (HTTP queries with property paths, per-repo write-path
materialization), and a tracker in thread A could capture ids checkpointed
by thread B and later free them out from under B's still-live plan.
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: rounds between compactions of ``semi_naive``'s grown union into one
#: checkpoint, so plan depth stays bounded on deep fixpoints
COMPACT_EVERY = 8


def fresh_ids(df: DataFrame) -> DataFrame:
    """Re-root a DataFrame on its physical RDD with FRESH attribute ids
    and no origin constraints/stats — plan hygiene for unions whose
    children descend from the same checkpoint. Spark's optimizer crashes
    rewriting the stale ``originConstraints`` of a deduplicated
    LogicalRDD self-union (``key not found: s#N`` in
    ``UnionBase.rewriteConstraints``, reproduced on 4.1.2 by
    ``ckptA.unionByName(ckptB).distinct().localCheckpoint()`` when both
    checkpoints carry the same output ids). Zero data movement: the new
    frame wraps the SAME InternalRow RDD (``internalCreateDataFrame``),
    falling back to a Row-converting ``createDataFrame`` if that
    interface ever disappears."""
    sp = df.sparkSession
    jdf = df._jdf
    try:
        new_jdf = sp._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except Exception:
        new_jdf = sp._jsparkSession.createDataFrame(
            jdf.javaRDD(), jdf.schema()
        )
    return DataFrame(new_jdf, sp)


class CheckpointTracker:
    """Tracks and frees localCheckpoint block generations for one driver
    loop. Blocking-unpersist=False: reclamation is async, the loop never
    stalls on it."""

    def __init__(self, df_or_spark):
        spark = getattr(df_or_spark, "sparkSession", df_or_spark)
        self._jsc = spark.sparkContext._jsc

    @staticmethod
    def _owned_ids(df: DataFrame) -> set:
        """The persistent-RDD id backing a just-localCheckpointed frame:
        the analyzed plan's root is a ``LogicalRDD`` whose ``rdd`` field is
        the RDD ``localCheckpoint`` persisted. Thread-safe by construction
        (reads only the frame's own plan, no global state)."""
        try:
            return {int(df._jdf.queryExecution().analyzed().rdd().id())}
        except Exception:
            # Unexpected plan shape: claim nothing rather than risk freeing
            # a generation some other plan still references.
            return set()

    def checkpoint(
        self, df: DataFrame, fresh: bool = False, eager: bool = True
    ) -> tuple[DataFrame, set]:
        """localCheckpoint ``df``; returns (checkpointed_df, the
        persistent-RDD ids the materialization creates). ``fresh=True``
        additionally re-roots the result via ``fresh_ids`` (the returned
        ids still identify the underlying checkpoint blocks).
        ``eager=False`` defers materialization to the caller's next
        action over the returned frame — fixpoint loops fuse the
        checkpoint job into their convergence probe that way (round 12),
        one job per round instead of two."""
        out = df.localCheckpoint(eager=eager)
        ids = self._owned_ids(out)
        if fresh:
            out = fresh_ids(out)
        return out, ids

    def free(self, ids: set) -> None:
        """Unpersist a superseded generation's blocks. Only call with ids
        of checkpoints no live DataFrame can still reference."""
        if not ids:
            return
        pers = self._jsc.getPersistentRDDs()
        for k in list(pers.keySet().toArray()):
            if int(k) in ids:
                pers.get(k).unpersist(False)


def semi_naive(
    base: DataFrame,
    delta: DataFrame | None,
    step,
    keys: list[str],
    max_rounds: int,
    name: str,
    flag=None,
    flagged: bool = False,
) -> tuple[DataFrame, set]:
    """Grow ``base`` to its fixpoint; returns ``(grown, ids)``: the rows
    derived beyond ``base`` (``base.limit(0)`` if none) and the checkpoint
    generations ``grown`` references, for callers that free them.

    Round r calls ``step(delta, known, flagged)`` with the rows new in
    round r-1 (the caller's ``delta``, possibly None, in round 0), ``known
    = base ∪ grown`` (``base`` must be cheap to rescan), and whether
    ``flag()`` held on any of them (the caller's ``flagged`` in round 0).
    ``step`` returns candidates in ``base``'s schema, or None to stop.
    They are de-duplicated and anti-joined against ``known`` on ``keys``.
    One job per round: the probe aggregate, which counts the fresh and
    the flagged rows, materializes their lazy checkpoint. Raises
    ``RuntimeError`` if the set still grows after ``max_rounds`` rounds."""
    tr = CheckpointTracker(base)
    # Null-safe keys: o_dtype/o_lang are NULL on most inferred triples and
    # node ids may be structs with null fields; plain equi-keys treat
    # NULL != NULL (re-deriving such rows forever) and generate IsNotNull
    # constraints that trip Catalyst's Union constraint rewrite on
    # checkpointed plans. Built once: the aliases are the same each round.
    on = None
    for k in keys:
        clause = F.col(f"_c.{k}").eqNullSafe(F.col(f"_k.{k}"))
        on = clause if on is None else on & clause
    probe = [F.count(F.lit(1))]
    if flag is not None:
        probe.append(F.count(F.when(flag(), F.lit(1))))
    grown = None
    grown_ids: set = set()
    for r in itertools.count():
        known = base if grown is None else base.unionByName(grown)
        cand = step(delta, known, flagged)
        if cand is None:
            break
        if r == max_rounds:
            raise RuntimeError(
                f"{name} did not exhaust its fixpoint within {max_rounds} "
                "rounds; the set is still growing — raise the round budget"
            )
        fresh, ids = tr.checkpoint(
            cand.dropDuplicates(keys)
            .alias("_c")
            .join(known.alias("_k"), on, "left_anti"),
            fresh=True,
            eager=False,
        )
        row = fresh.agg(*probe).first()
        if row[0] == 0:
            tr.free(ids)  # dead end: nothing references it
            break
        flagged = flag is not None and row[1] > 0
        delta = fresh
        grown = fresh if grown is None else grown.unionByName(fresh)
        grown_ids |= ids
        if (r + 1) % COMPACT_EVERY == 0:
            grown, compact_ids = tr.checkpoint(grown, fresh=True)
            # the compacted union subsumes every generation — except the
            # delta, which still feeds the next round
            tr.free(grown_ids - ids)
            grown_ids = compact_ids | ids
    return (base.limit(0) if grown is None else grown), grown_ids
