"""Distributed path search over edge DataFrames (GraphDB path plugin twin).

The GraphDB graph-path-search plugin (reference: selected wholesale with the
engine image at Dockerfile:2; public docs describe ``path:findPath`` /
``path:shortestPath`` / ``path:allPaths`` / ``path:distance`` bindings)
answers source→destination path queries inside SPARQL. This module is the
engine kernel behind our ``urn:spark-graft:path:`` magic-predicate surface
(sparql/compiler.py ``_extract_pathsearch``).

Execution model, designed for cluster scale:

- **BFS is the engine's one semi-naive loop** (``plans.ckpt.semi_naive``,
  shared with transitive closure, inference and DESCRIBE): each round
  joins only the *frontier* against the edge set (cost |frontier ⋈ E|
  with an equi-join on src), never the visited set, and the loop
  anti-joins the frontier against visited so a node enters exactly once.
  ``bfs_distances`` and ``shortest_path`` share it; the target's arrival
  is the probe's flag, so the early exit costs no extra job. Rounds are
  bounded by graph diameter (hard cap ``max_iterations``, which raises);
  each round's frontier is checkpointed, so a deep BFS can't build an
  exponential plan.
- **Driver traffic is O(path length)**: the only collects are the
  per-round probe (one row of counts) and, for reconstruction, one
  single-row lookup per hop of the *answer* path. No visited-set or
  frontier data ever lands on the driver.
- **Determinism**: when multiple shortest paths exist the backtrack picks
  the lexicographically smallest predecessor at every hop, making the
  result unique, partition-order-independent, and SQL-oracle-expressible.
- **allPaths is explicitly bounded**: simple-path enumeration carries the
  path as an array column and refuses unbounded work — ``max_len`` is
  required and capped (the plugin imposes the same kind of limit), and the
  cycle filter (``array_contains``) keeps every path simple, so round k
  holds at most Σ|simple paths of length k| rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..plans.ckpt import CheckpointTracker, semi_naive

#: Hard ceiling for all-simple-paths enumeration; beyond this the
#: combinatorics are unbounded on dense graphs (plugin-style guard).
ALL_PATHS_MAX_LEN = 12


def _bfs(
    edges: DataFrame,
    source: str,
    target: str | None,
    max_iterations: int,
    tr: CheckpointTracker,
) -> tuple[DataFrame, set]:
    """(visited(id, dist), checkpoint ids) for every node reached from
    ``source`` (dist 0 = the source), on ``semi_naive`` keyed by node id
    so each node enters once. Stops early once ``target`` (if given) has
    appeared — its distance is final the round it enters (BFS
    invariant); the target hit rides in the round's probe as its flag."""
    e, e_ids = tr.checkpoint(edges.select("src", "dst").distinct())
    spark = edges.sparkSession
    visited = spark.createDataFrame([(source, 0)], "id string, dist int")

    def step(delta, known, hit):
        if hit:
            return None
        return delta.join(e, delta.id == e.src).select(
            F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist")
        )

    grown, ids = semi_naive(
        visited, visited, step, ["id"], max_iterations, "path-search BFS",
        flag=None if target is None else (lambda: F.col("id") == target),
    )
    tr.free(e_ids)
    return visited.unionByName(grown), ids


def bfs_distances(
    edges: DataFrame,
    source: str,
    target: str | None = None,
    max_iterations: int = 50,
) -> DataFrame:
    """(id, dist) for every node reachable from ``source``; the returned
    frame holds its checkpoint generations for the query's lifetime."""
    visited, _ = _bfs(
        edges, source, target, max_iterations, CheckpointTracker(edges)
    )
    return visited


def shortest_path(
    edges: DataFrame,
    source: str,
    target: str,
    max_iterations: int = 50,
) -> list[str]:
    """The deterministic shortest path source→target as a node list
    (``[source, ..., target]``), or ``[]`` if unreachable.

    BFS out, then backtrack: at each hop the predecessor is the MINIMUM
    node id among dist-(d-1) in-neighbours of the current node — unique
    and engine-independent. Driver cost is one 1-row collect per hop
    (path length, not graph size); every intermediate generation is freed
    before returning."""
    tr = CheckpointTracker(edges)
    dists, ids = _bfs(edges, source, target, max_iterations, tr)
    hit = dists.filter(F.col("id") == target).collect()
    if not hit:
        tr.free(ids)
        return []
    d_target = hit[0]["dist"]
    e = edges.select("src", "dst").distinct()
    path = [target]
    cur = target
    for d in range(d_target - 1, -1, -1):
        level = dists.filter(F.col("dist") == d).select(
            F.col("id").alias("src")
        )
        row = (
            e.filter(F.col("dst") == cur)
            .join(level, "src")
            .agg(F.min("src").alias("pred"))
            .collect()
        )
        cur = row[0]["pred"]
        path.append(cur)
    tr.free(ids)
    path.reverse()
    return path


def all_simple_paths(
    edges: DataFrame,
    source: str,
    target: str,
    max_len: int,
) -> DataFrame:
    """All simple paths source→target with ≤ ``max_len`` hops, as
    (path: array<string>, hops: int). Paths never revisit a node (the
    ``array_contains`` filter), and since the target appears in a simple
    path at most once, every surviving path *ends* at the target.

    Distributed shape: round k extends only length-(k-1) partial paths by
    one edge join; completed paths leave the frontier immediately. The
    returned frame holds its checkpoint generations for the query's
    lifetime."""
    if not (1 <= max_len <= ALL_PATHS_MAX_LEN):
        raise ValueError(
            f"allPaths requires 1 <= maxPathLength <= {ALL_PATHS_MAX_LEN} "
            f"(got {max_len}): unbounded simple-path enumeration is "
            "combinatorial"
        )
    tr = CheckpointTracker(edges)
    e, e_ids = tr.checkpoint(edges.select("src", "dst").distinct())
    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [([source], source)], "path array<string>, last string"
    )
    done = None
    for k in range(1, max_len + 1):
        grown, _ = tr.checkpoint(
            frontier.join(e, frontier.last == e.src)
            .filter(~F.array_contains(F.col("path"), F.col("dst")))
            .select(
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                F.col("dst").alias("last"),
            )
        )
        finished = grown.filter(F.col("last") == target).select(
            "path", F.lit(k).cast("int").alias("hops")
        )
        done = finished if done is None else done.unionByName(finished)
        frontier = grown.filter(F.col("last") != target)
        if k < max_len and frontier.rdd.isEmpty():
            break
    tr.free(e_ids)
    return done
