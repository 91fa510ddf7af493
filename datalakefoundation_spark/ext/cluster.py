"""Near-duplicate cluster assignment: connected components over a candidate
edge list (e.g. MinHash+LSH output), so every document gets a canonical
cluster id (the minimum doc id in its component) and dedup can keep exactly
one survivor per cluster instead of dropping both ends of every pair.

``connected_components`` is the one entry point. It marks the canonical
edge list for a lazy local checkpoint and takes at most
``_DRIVER_MAX_EDGES + 1`` rows of it; the row count picks the algorithm:

- up to ``_DRIVER_MAX_EDGES`` rows, a driver-side union-find labels them.
  The take is the path's only action, with no eager checkpoint and no
  count: one Spark job over a one-partition edge list, besides the jobs
  that compute ``pairs``. The labels come back as an Arrow-built local
  relation, not a Python RDD;
- above that, it runs alternating large-star/small-star rounds (Kiveris et
  al., "Connected Components in MapReduce and Beyond", 2014 — public
  algorithm) over the checkpointed edges, so the candidate lineage is
  computed once on either path. Each round halves tree heights, so
  convergence is O(log d) rounds even on adversarial long-chain graphs;
  each half-round is one groupBy-min + one join-free projection over the
  edge list. No driver-side graph state; per-round results are
  ``localCheckpoint``-ed so the plan doesn't grow with iteration count
  (standard practice for iterative DataFrame algorithms).

Both paths return the same rows and the same schema. ``dedup_clusters``
feeds it one star per LSH bucket (``dedup.lsh_star_edges``)."""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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

    Edge lists of at most ``_DRIVER_MAX_EDGES`` rows (counted as given:
    a repeated edge counts every time) are labelled by a driver-side
    union-find after one take of those rows, nothing checkpointed eagerly
    and nothing counted. Larger ones go through
    large-star/small-star rounds (Kiveris et al. 2014) over the same
    checkpointed edges: O(log d) rounds on any graph shape, so a 10k-node
    path converges in ~14 rounds where plain label propagation needs 10k.
    At fixpoint the edge set is a star per component, rooted at the
    component minimum."""
    # canonical (larger, smaller) edges, self-pairs kept so that a node
    # seen only in a self-pair still gets its singleton row. The lazy
    # checkpoint keeps what the take computes, so the star path reads the
    # candidate lineage once too.
    canon = pairs.select(
        F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
        F.least(F.col(src_col), F.col(dst_col)).alias("v"),
    ).localCheckpoint(eager=False)
    rows = canon.limit(_DRIVER_MAX_EDGES + 1).collect()
    if len(rows) <= _DRIVER_MAX_EDGES:
        return _union_find(canon, rows)
    canon = canon.distinct().localCheckpoint(eager=True)
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


def _union_find(canon: DataFrame, edges: list) -> DataFrame:
    """Driver-side union-find over the collected canonical (u, v) rows of
    ``canon``. Every root is its component's minimum: a union hangs the
    larger root under the smaller one. The labels go back through a
    ``pyarrow.Table``, a local relation, so reading them forks no Python
    worker."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dtype = canon.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("node", dtype), T.StructField("cluster_id", dtype)]
    )
    labels = pa.table(
        {"node": list(parent), "cluster_id": [find(n) for n in parent]},
        schema=to_arrow_schema(schema),
    )
    return canon.sparkSession.createDataFrame(labels, schema)


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **minhash_kwargs,
) -> DataFrame:
    """MinHash signatures -> one star per LSH bucket -> connected
    components -> (doc_id, cluster_id, is_survivor). Only documents that
    belong to a near-dup cluster appear; the survivor is the cluster's
    minimum doc id. ``minhash_kwargs`` are ``minhash_dedup_candidates``'s
    (``num_hashes``, ``band_size``, ``shingle_size``, ``hash_distinct``),
    and the clusters equal the components of its pairs."""
    from datalakefoundation_spark.ext.dedup import lsh_star_edges, minhash_signature

    num_hashes = minhash_kwargs.pop("num_hashes", 8)
    band_size = minhash_kwargs.pop("band_size", 2)
    sig = minhash_signature(df, text_col, id_col, num_hashes, **minhash_kwargs)
    comp = connected_components(lsh_star_edges(sig, id_col, num_hashes, band_size))
    return comp.select(
        F.col("node").alias(id_col),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_survivor"),
    )
