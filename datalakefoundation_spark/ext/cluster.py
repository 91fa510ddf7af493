"""Near-duplicate cluster assignment: connected components over a candidate
pair list (e.g. MinHash+LSH output), so every document gets a canonical
cluster id (the minimum doc id in its component) and dedup can keep exactly
one survivor per cluster instead of dropping both ends of every pair.

``connected_components`` is the one entry point. It checkpoints the
canonical edge list once and picks the algorithm from its row count:

- up to ``_DRIVER_MAX_EDGES`` edges, it collects them and labels them with
  a driver-side union-find;
- above that, it runs alternating large-star/small-star rounds (Kiveris et
  al., "Connected Components in MapReduce and Beyond", 2014 — public
  algorithm). Each round halves tree heights, so convergence is O(log d)
  rounds even on adversarial long-chain graphs; each half-round is one
  groupBy-min + one join-free projection over the edge list. No
  driver-side graph state; per-round results are ``localCheckpoint``-ed so
  the plan doesn't grow with iteration count (standard practice for
  iterative DataFrame algorithms).

Both paths return the same rows and the same schema."""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

# Largest edge list labelled on the driver. The star loop pays ~10–25 Spark
# jobs (a checkpoint and a convergence check per round) whatever the graph
# size: a 260k-edge graph took 11 s with star and under 1 s with union-find.
# Above this bound the edge list may not fit on the driver.
_DRIVER_MAX_EDGES = 1_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (incl. itself). Input and
    output are undirected edge lists in canonical (larger, smaller) form;
    internally both directions are materialized for the per-node grouping."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over canonical (larger, smaller) edges: every
    node connects its smaller-or-equal neighbors (and itself) to the
    minimum of that neighborhood. Output stays canonical."""
    canon = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    to_min = canon.join(mins, "u")
    return (
        to_min.where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``;
    cluster_id = min node id in the connected component.

    Graphs of at most ``_DRIVER_MAX_EDGES`` distinct edges are labelled by
    a driver-side union-find; larger ones by large-star/small-star rounds
    (Kiveris et al. 2014): O(log d) rounds on any graph shape, so a
    10k-node path converges in ~14 rounds where plain label propagation
    needs 10k. At fixpoint the edge set is a star per component, rooted at
    the component minimum."""
    # canonical (larger, smaller) edges, self-pairs kept so that a node
    # seen only in a self-pair still gets its singleton row
    canon = (
        pairs.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
            F.least(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if canon.count() <= _DRIVER_MAX_EDGES:
        return _union_find(canon)
    edges = canon.where(F.col("u") != F.col("v"))
    converged = False
    prev_count = edges.count()
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # both sides are distinct canonical sets: equal counts + empty
        # one-way difference <=> identical edge sets (count carried from the
        # previous round — no rescan of the old set)
        new_count = new_edges.count()
        if new_count == prev_count and new_edges.subtract(edges).isEmpty():
            edges = new_edges
            converged = True
            break
        edges, prev_count = new_edges, new_count
    if not converged:
        logger.warning(
            "connected_components did not converge in %d rounds; "
            "labels may split components — raise max_iter", max_iter,
        )
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    # every node of the canonical edge list gets a row — components' roots
    # and self-pair-only nodes label themselves. At fixpoint every non-root
    # points directly at its root so the min-agg is a semantic no-op; it
    # also guarantees one row per node even when max_iter ran out
    # mid-collapse.
    all_nodes = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    return (
        members.unionByName(all_nodes)
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def _union_find(canon: DataFrame) -> DataFrame:
    """Driver-side union-find over the collected canonical (u, v) edge
    list. Every root is its component's minimum: a union hangs the larger
    root under the smaller one."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in canon.collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dtype = canon.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("node", dtype), T.StructField("cluster_id", dtype)]
    )
    return canon.sparkSession.createDataFrame(
        [(node, find(node)) for node in parent], schema
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **minhash_kwargs,
) -> DataFrame:
    """MinHash candidates -> connected components -> (doc_id, cluster_id,
    is_survivor). Only documents that belong to a near-dup cluster appear;
    the survivor is the cluster's minimum doc id."""
    from datalakefoundation_spark.ext.dedup import minhash_dedup_candidates

    pairs = minhash_dedup_candidates(df, text_col, id_col, **minhash_kwargs)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias(id_col),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_survivor"),
    )
