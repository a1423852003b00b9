"""Connected components via min-label propagation — the iterative
operator pattern (dedup clustering: candidate pairs -> duplicate
groups).

Each iteration: every node takes the min of its own label and its
neighbors' labels; converges in O(graph diameter) rounds. All work is
joins + groupBy (shuffles on node id) — no driver-side graph state; the
driver only checks the per-round convergence counter. Checkpointing
truncates the lineage each round so plan size stays constant (the
classic iterative-algorithm failure mode on Spark is exponential plan
growth, not compute).

Durability: ``localCheckpoint`` (the default) stores blocks on
executors with lineage discarded — fast, but an executor loss
mid-iteration is unrecoverable. For long cluster runs pass
``checkpoint_dir`` and blocks go to fault-tolerant storage there, with
full recompute-on-loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """Label each node in ``nodes`` with the min node id reachable in the
    undirected graph given by ``edges``. Returns (node_col, component).
    Isolated nodes are their own component.

    ``checkpoint_dir`` switches every round to ``DataFrame.checkpoint()``
    into that dir, so an executor loss mid-iteration recomputes instead
    of aborting.

    ``edges_distinct=True`` declares the input pair set already
    duplicate-free with src < dst (the minhash candidate-pair contract),
    which makes the bidirected union distinct BY CONSTRUCTION — the
    per-invocation dedup exchange over the edge set is skipped
    (round-15, guide §2.4: remove shuffles outright). Duplicates would
    only cost join multiplicity, never wrong labels (min over
    duplicates is the same min), so the default stays the safe dedup
    for arbitrary inputs."""
    reliable = checkpoint_dir is not None
    if reliable:
        nodes.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable else df.localCheckpoint()

    bi = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("t")
    ).union(edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("t")))
    if not edges_distinct:
        bi = bi.distinct()
    bi = ckpt(bi)

    labels = ckpt(
        nodes.select(F.col(node_col).alias("node"), F.col(node_col).alias("component"))
    )

    changed = -1
    for it in range(max_iter):
        neighbor_labels = bi.join(
            labels, bi.s == labels.node
        ).select(F.col("t").alias("node"), "component")
        merged = (
            labels.union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component := component's own current label —
        # halves the remaining label-tree height each round, so
        # convergence is O(log diameter) rather than O(diameter); the
        # fixpoint (min reachable id) is unchanged
        hop = merged.select(
            F.col("node").alias("p_node"),
            F.col("component").alias("p_component"),
        )
        new_labels = ckpt(
            merged.join(hop, merged["component"] == hop["p_node"]).select(
                "node", F.col("p_component").alias("component")
            )
        )
        if it == 0:
            # skip the round-1 convergence count (round-15): any graph
            # with at least one non-canonical edge changes labels in
            # round 1, so the count is a wasted job on every real
            # input; an edgeless/already-canonical graph merely pays
            # one extra (cheap) round before round 2's count returns 0
            labels = new_labels
            continue
        changed = (
            labels.alias("old")
            .join(new_labels.alias("new"), "node")
            .filter(F.col("old.component") != F.col("new.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("node").alias(node_col), "component")
    # exhaustion must be LOUD: returning the last labels would silently
    # split any component whose convergence outruns the budget
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"({changed} labels still changing) — refusing to return split "
        "components"
    )
