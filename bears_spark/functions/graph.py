"""Iterative graph algorithms as DataFrame fixpoint loops.

Connected components lives in functions/dedup.py (it is the dedup ladder's
final stage); this module holds the general-purpose iterative operators.
PageRank here is the canonical "iterate joins with lineage checkpointing"
pattern (Page et al. 1999; same shape GraphX/Pregel lowers to): each
iteration is one join (ranks onto edges) + one aggregation (sum incoming
mass), both shuffling on the node id — so pre-partitioning edges and ranks
on id keeps every round co-located. A local checkpoint per round truncates
the growing plan exactly as in connected_components, and each superseded
round's blocks are freed as soon as the next round is built.

The reference has no graph operators at all — beyond-reference capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bears_spark.caching import release_checkpoint, scoped_checkpoint, scoped_persist


def pagerank(
    edges: DataFrame,
    num_iter: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list -> (id, rank) after ``num_iter``
    synchronous iterations from the uniform start.

    r'(v) = (1-d)/N + d * (sum over in-edges u->v of r(u)/outdeg(u)
                           + dangling_mass/N)

    Dangling nodes (no out-edges) redistribute their mass uniformly — the
    standard correction, without which total rank leaks. Fixed iteration
    count (not convergence-tested) keeps the result deterministic and
    oracle-reproducible.

    Scale: per iteration one broadcast-free equi-join on src + one groupBy
    on dst; both hash-partition on node id, so at 1000 executors the rounds
    reuse one partitioning. The dangling-mass term is a scalar agg collected
    per round (one driver float), not a shuffle.
    """
    e = scoped_persist(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct())
    nodes = scoped_persist(e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct())
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # contribution edges: src, dst, 1/outdeg — static across iterations
    contrib_e = scoped_persist(
        e.join(outdeg, "src").select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
    )
    has_out = outdeg.select(F.col("src").alias("id"))

    ranks = scoped_checkpoint(nodes.withColumn("rank", F.lit(1.0 / n)))
    base = (1.0 - damping) / n
    for _ in range(num_iter):
        dangling = (
            ranks.join(has_out, "id", "left_anti").agg(F.coalesce(F.sum("rank"), F.lit(0.0))).first()[0]
        )
        incoming = (
            contrib_e.join(ranks, contrib_e.src == ranks.id)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("mass"))
        )
        new_ranks = scoped_checkpoint(
            nodes.join(incoming, nodes.id == incoming.dst, "left").select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping) * (F.coalesce(F.col("mass"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        release_checkpoint(ranks)
        ranks = new_ranks
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected edge list (one row per
    triangle {a,b,c} regardless of input direction/duplication).

    Canonicalize each edge to (lo, hi), dedup, then the ordered two-join:
    (a<b) ⋈ (b<c) ⋈ check (a,c). Ordering makes every triangle match
    exactly once and keeps each join a plain equi-join — the standard
    MapReduce formulation (Suri & Vassilvitskii 2011). Skew note: a
    high-degree hub inflates the candidate join; production runs cap or
    split hub vertices the same way the dedup blocking caps hot grams.
    Returns a 1-row DataFrame (n_triangles)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e = scoped_persist(e)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")  # x < y < z by construction
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["x", "z"], "left_semi")
    out = tri.agg(F.count("*").alias("n_triangles"))
    return out
