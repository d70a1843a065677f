"""Connected components by iterative min-label propagation.

The last stage of corpus dedup: near-dup PAIRS (operators.dedup)
induce a graph; its connected components are the duplicate clusters,
and the minimum doc_id in each component is the canonical
representative to keep.

Algorithm: ``label(v) <- min(label(v), min over neighbors' labels)``
per round, converging to the component minimum in at most
graph-diameter rounds. Near-dup clusters are shallow (duplicates of a
common ancestor), so the loop terminates in a handful of rounds; the
convergence check is one scalar ``count()`` per round — driver-side
orchestration only, never data.

Scale shape: each round is one equi-join (labels onto edge sources,
shuffled on the node id) + one min-aggregation (map-side combined).
The label relation is O(nodes-in-pairs), a vanishing fraction of the
corpus. ``localCheckpoint`` truncates lineage each round so the plan
does not grow with iteration count. For graphs with giant components
and long chains, the literature upgrade is the alternating
large-star/small-star algorithm (same join primitives, fewer rounds);
the near-dup workload does not need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rounds after which an unconverged propagation raises rather than
#: return labels that are not yet the component minimum
MAX_ROUNDS = 50


def connected_components(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """(id, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id in the node's component.
    Deterministic: the fixpoint is unique regardless of round count.
    Raises ``RuntimeError`` if a round still changes a label after
    ``MAX_ROUNDS`` rounds (a node ``MAX_ROUNDS`` or more hops from its
    component's minimum)."""
    # one materialization of the symmetric edge relation (r12): sym is
    # consumed by EVERY round's neighbor join, and the edge pipeline
    # behind it (e.g. the full MinHash LSH pair derivation) would
    # otherwise re-execute per round
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("u").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(MAX_ROUNDS):
        nb_min = (
            sym.join(labels.select(F.col("id").alias("u"), "label"), "u")
            .select(F.col("v").alias("id"), F.col("label"))
            .groupBy("id")
            .agg(F.min("label").alias("nb_min"))
        )
        # carry the old label INTO the round's checkpoint so the
        # convergence check is a scan of cached data, not a re-join
        # of two label relations (one fewer shuffle per round — r12)
        merged = labels.join(nb_min, "id", "left").select(
            "id",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("nb_min", "label")).alias("label"),
        ).localCheckpoint(eager=True)
        changed = merged.filter(F.col("label") != F.col("old")).count()
        labels = merged.select("id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after {MAX_ROUNDS} rounds"
        )
    return labels.select("id", F.col("label").alias("component"))
