"""Graph operators over edge DataFrames.

connected_components: iterative deterministic min-label propagation —
the missing last step of a near-duplicate pipeline (candidate pairs ->
verified pairs -> CLUSTERS -> one canonical doc per cluster).

Scale design: each round is one join + one aggregation shuffled on the
node key; rounds needed = graph diameter (near-dup clusters are tiny and
dense, so 2-4 rounds in practice; the alternating large-star/small-star
scheme from the MapReduce CC literature bounds it at O(log n) for
adversarial chains). Lineage is truncated every round with an eager
localCheckpoint so the plan does not grow with iterations — the standard
Spark idiom for iterative algorithms (GraphX/Pregel does the same).
Convergence detection is an ``Observation`` metric collected DURING the
checkpoint job itself (r17) — the improved-count accumulates as rows
stream into the checkpoint, so a round is exactly ONE job (the r16 shape
ran a second LIMIT-1 probe job per round, and the checkpoint carried an
extra ``improved`` column it then dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators.lineage import cut


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25, *,
    durable: bool = False,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component is the
    MINIMUM node id reachable from the node (deterministic canonical
    label, engine-portable). Edges are treated as undirected.

    ``durable=True`` makes the per-round lineage cuts executor-loss-safe
    (reliable checkpoint against the session's checkpoint dir) — use it
    on clusters with preemptible nodes; see operators.lineage."""
    sym = cut(
        edges.select(F.col(src).alias("nbr"), F.col(dst).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("nbr"), F.col(src).alias("node")))
        .distinct(),
        durable=durable,
        eager=True,  # edge lineage (often an expensive
        # dedup pipeline) is materialized ONCE, not once per round
    )
    if max_iter < 1:  # degenerate: the identity labeling
        return sym.select("node").distinct().select(
            "node", F.col("node").alias("component")
        )
    labels: DataFrame | None = None
    for _ in range(max_iter):
        if labels is None:
            # round 1 runs on the IDENTITY labeling, where min neighbor
            # label == min neighbor id: no join against a labels frame,
            # and the node set derives inside the same aggregation (the
            # r16 shape paid a separate nodes-distinct shuffle plus a
            # round-1 join that matched every label to itself). The
            # aggregation reads the CHECKPOINTED symmetric edges, so the
            # (often expensive) edge lineage still runs exactly once.
            base = sym.groupBy("node").agg(F.min("nbr").alias("nbr_min")).select(
                "node", F.col("node").alias("component"), "nbr_min"
            )
        else:
            nbr_min = (
                sym.join(labels.select(F.col("node").alias("nbr"), "component"), "nbr")
                .groupBy("node")
                .agg(F.min("component").alias("nbr_min"))
            )
            base = labels.join(nbr_min, "node", "left")
        # the improved flag is computed in the SAME projection the
        # checkpoint materializes (new < old ⟺ nbr_min < old) and
        # aggregated by an Observation as the checkpoint job streams the
        # rows — convergence costs no second job and the checkpointed
        # blocks carry only (node, component)
        obs = Observation()
        new_labels = cut(
            base.select(
                "node",
                F.least(F.col("component"), F.coalesce("nbr_min", "component")).alias(
                    "component"
                ),
                (F.coalesce("nbr_min", "component") < F.col("component")).alias(
                    "improved"
                ),
            )
            .observe(obs, F.count(F.when(F.col("improved"), F.lit(1))).alias("n"))
            .select("node", "component"),
            durable=durable,
            eager=True,
        )
        labels = new_labels
        # durable=True: a reliable checkpoint runs the plan once for the
        # action and again for the write, so ``n`` can count a row twice;
        # only ``== 0`` (converged) is meaningful, never the magnitude
        if int(obs.get["n"]) == 0:
            break
    assert labels is not None  # max_iter >= 1
    return labels
