"""Distributed connected components for duplicate-cluster resolution
(engine-added; no reference analog).

The dedup operators (minhash LSH, SimHash / phash Hamming band
joins, embedding LSH) emit near-duplicate PAIRS.  A real
training-data pipeline needs the transitive closure of those pairs —
duplicate CLUSTERS with one canonical survivor each — so "A~B, B~C"
keeps one of {A,B,C}, not two.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), the
standard shuffle-friendly CC construction:

- large-star: every node points its LARGER neighbors at the minimum
  of its closed neighborhood;
- small-star: every node points its smaller-or-equal neighbors (and
  itself) at that minimum.

Both rounds are one groupBy + one equi-join each (two shuffles per
iteration, all map-side combinable), and the pair converges in
O(log^2 n) rounds to a forest of stars rooted at each component's
minimum id — no driver-side graph state, no per-row Python, and the
per-round working set is the (shrinking) edge list, so the plan is
the one you would run at 10^12 edges.  Convergence is detected by a
direct star-forest test (every child has exactly one parent and no
node is both child and parent — true exactly at the alternation's
fixpoint, so the loop stops the round convergence happens rather
than one round later), and each round is localCheckpoint()ed:
iterative DataFrame plans otherwise accrete lineage until Catalyst
analysis itself becomes the bottleneck (the classic iterative-Spark
failure mode).

Path choice: the observed edge count alone picks the plan.  Near-dup
pair lists are usually a small fraction of the corpus (the dedup
operators emit candidates, not the cross product), so when the
deduplicated edge list fits one task (<= LOCAL_MAX_EDGES edges,
~32 MB) the closure runs as a SINGLE single-partition mapInPandas
pass — vectorized numpy min-label propagation with pointer-jumping,
one Spark job, no iteration-driving driver loop — the same
measured-size dispatch the spatial joins use (spatial_join.py: the
query side picks the plan).  Above it is the distributed star
alternation.  dedup.phash_clusters decides one step earlier: when a
zero-job parquet-footer bound shows at most dedup.LOCAL_MAX_NODES
phashes, it pairs them AND calls _local_closure inside one task, so
neither the edge list nor this module's checkpoint is materialized.
Both paths produce the identical (id, component_id = component
minimum) labeling and are parity-tested against each other and a
union-find reference (tests/test_components.py, which forces a path
by patching the constant).

Verification: the DuckDB oracle recomputes components from the SAME
pair set by recursive-CTE min-label closure (queries.py
image_dup_components), and pytest cross-checks random graphs against
a driver-side union-find (tests/test_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

LOCAL_MAX_EDGES = 2_000_000  # ~16 B/edge: ~32 MB, one comfortable task
MAX_ROUNDS = 20  # O(log^2 n) rounds: covers any storable graph


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view (u, v) of an (id_a, id_b) pair list: both
    orientations, self-loops dropped."""
    fwd = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    rev = edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    return fwd.union(rev).filter(F.col("u") != F.col("v"))


def _large_star(sym: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) + {u}).

    One groupBy(u) for the neighborhood minimum, one equi-join to
    re-emit edges — both partial-aggregable shuffles on the node id.
    """
    mins = (sym.groupBy("u").agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("u"), F.col("_mn")).alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("id_a"), F.col("m").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge (hi, lo); each hi node attaches itself and
    all its small neighbors to the minimum of its small neighborhood.
    """
    oriented = (edges.select(
        F.greatest(F.col("id_a"), F.col("id_b")).alias("u"),
        F.least(F.col("id_a"), F.col("id_b")).alias("v"))
        .filter(F.col("u") != F.col("v")))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    attach_nbrs = (oriented.join(mins, "u")
                   .filter(F.col("v") != F.col("m"))
                   .select(F.col("v").alias("id_a"),
                           F.col("m").alias("id_b")))
    attach_self = mins.select(F.col("u").alias("id_a"),
                              F.col("m").alias("id_b"))
    return attach_nbrs.union(attach_self).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the (downward-oriented) edge list is a star forest:
    every id_a appears exactly once and no node appears as both
    child (id_a) and parent (id_b).  Small-star output is downward
    by construction (parent = strict minimum of a neighborhood), so
    this holds exactly at the alternation's fixpoint — non-star
    fixpoints do not exist (the Kiveris potential strictly
    decreases otherwise).  One tiny two-level aggregate per round;
    never collects edges."""
    roles = edges.select(F.col("id_a").alias("id"),
                         F.lit(1).alias("c")).unionAll(
        edges.select(F.col("id_b").alias("id"), F.lit(0).alias("c")))
    row = (roles.groupBy("id")
           .agg(F.sum("c").alias("nc"), F.count("*").alias("nt"))
           .agg(F.coalesce(F.sum(
               ((F.col("nc") > 1)
                | ((F.col("nc") >= 1) & (F.col("nt") > F.col("nc"))))
               .cast("long")), F.lit(0)).alias("viol"))
           .collect()[0])
    return int(row["viol"]) == 0


def _local_closure(it):
    """Single-task exact closure: numpy min-label propagation with
    pointer jumping (hook to the smaller label along every edge,
    then compress until stable).  Labels only ever decrease and
    originate from node ids inside the component, so the stable
    state labels every node with its component minimum; ~log2(n)
    outer iterations worst-case (path graphs).  Deterministic —
    a pure function of the edge multiset."""
    import numpy as np
    import pandas as pd
    a_parts, b_parts = [], []
    for pdf in it:
        a_parts.append(pdf["id_a"].to_numpy(np.int64))
        b_parts.append(pdf["id_b"].to_numpy(np.int64))
    if not a_parts or not sum(len(p) for p in a_parts):
        return
    a = np.concatenate(a_parts)
    b = np.concatenate(b_parts)
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[:len(a)], inv[len(a):]
    lab = np.arange(len(nodes), dtype=np.int64)
    for _ in range(64):
        old = lab.copy()
        np.minimum.at(lab, ai, lab[bi])
        np.minimum.at(lab, bi, lab[ai])
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, old):
            break
    else:  # pragma: no cover - 64 doublings exceed any real graph
        raise RuntimeError("local closure did not converge")
    yield pd.DataFrame({"id": nodes, "component_id": nodes[lab]})


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", with_stats: bool = False):
    """(id, component_id) for every node appearing in `pairs`, where
    component_id is the minimum node id of its connected component.

    Nodes never mentioned in a pair are singletons by definition and
    are not emitted (callers left-join and coalesce(component_id, id)
    if they want total coverage — see dedup.phash_clusters).

    The deduplicated edge list is counted while the checkpoint
    materializes (no extra job): <= LOCAL_MAX_EDGES edges runs the
    exact single-job numpy closure, larger graphs the distributed
    star alternation.  A graph that fails to converge in MAX_ROUNDS
    alternations raises rather than returning a partial labeling.
    with_stats returns (df, rounds); the local path reports rounds=0.
    """
    n_edges = Observation()
    edges = (pairs.select(F.col(id_a).cast("long").alias("id_a"),
                          F.col(id_b).cast("long").alias("id_b"))
             .filter(F.col("id_a") != F.col("id_b"))
             .distinct()
             .observe(n_edges, F.count(F.lit(1)).alias("n"))
             .localCheckpoint(eager=True))
    if n_edges.get["n"] <= LOCAL_MAX_EDGES:
        out = edges.coalesce(1).mapInPandas(
            _local_closure, schema="id long, component_id long")
        return (out, 0) if with_stats else out
    rounds = 0
    for rounds in range(1, MAX_ROUNDS + 1):
        stepped = _small_star(_large_star(_symmetrize(edges)))
        # truncate lineage every round: without this the logical plan
        # doubles per iteration and Catalyst analysis time explodes
        stepped = stepped.localCheckpoint(eager=True)
        done = _is_star_forest(stepped)
        edges.unpersist()
        edges = stepped
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} "
            "large/small-star rounds")
    # fixed point = star forest: every non-root points at its
    # component minimum; roots label themselves
    members = edges.select(F.col("id_a").alias("id"),
                           F.col("id_b").alias("component_id"))
    roots = (edges.select(F.col("id_b").alias("id"))
             .distinct()
             .join(members.select("id"), "id", "left_anti")
             .withColumn("component_id", F.col("id")))
    out = members.union(roots)
    return (out, rounds) if with_stats else out
