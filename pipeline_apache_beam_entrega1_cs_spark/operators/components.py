"""Connected components over a pair graph — the final step of near-dup
deduplication: collapse pairwise matches into clusters and pick one
canonical representative (min id) per cluster.

Iterative min-label propagation: every node starts labeled with itself;
each round, a node adopts the smallest label among itself and its
neighbors; stop at fixpoint. Rounds needed = graph diameter (near-dup
clusters are shallow — a handful of rounds). Each round is one join +
one aggregation; the loop is driver-side control flow over lazily-built
plans, with the label frame localCheckpoint()ed per round so lineage
doesn't grow unboundedly (the standard large-scale CC pattern; on a
cluster swap in reliable checkpointing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 20
) -> DataFrame:
    """(node, component) for every node in the edge set; component =
    smallest node id reachable. Deterministic."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # Materialize the symmetrized edge set ONCE: every round's
    # neighbor_min join re-reads `sym`, and without the checkpoint that
    # re-derives the ENTIRE upstream pair graph (shingle build →
    # frequency-capped inverted index → Jaccard filter) once per round
    # — the cached-frontier lesson from graph_bfs_levels. Edge sets
    # here are near-dup pair graphs (tiny relative to the corpus), so
    # the materialization is cheap; on a cluster swap in reliable
    # checkpointing.
    sym = sym.localCheckpoint()
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    labels = labels.localCheckpoint()

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))).alias("comp"),
            )
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels
