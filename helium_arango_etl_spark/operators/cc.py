"""Shared connected-components core: iterative min-label propagation.

Used by operators.dedup.dedup_clusters (duplicate clusters over verified
near-dup edges) and operators.graph.witness_components (per-city WCC).
Per iteration: one keyed join of the undirected edge list against the
current labels, then a min-groupBy fold — only (key, node, label) scalar
triples ever shuffle, and each iteration is localCheckpoint'ed to truncate
lineage (on a cluster: setCheckpointDir + checkpoint()).  Convergence is
detected via the monotone-decreasing label sum — one scalar action per
iteration, orchestration-only driver work.

Hash-to-min propagation moves the component minimum one hop per iteration
(iterations ~ component diameter).  Both callers' graphs are shallow
(near-dup clusters, city witness graphs), so the iteration cap holds; an
adversarial long-chain graph exceeds it and fails loudly
(:class:`ConvergenceError`) rather than returning partial labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    """Raised when min-label propagation exhausts its iteration cap before
    reaching the fixpoint — a non-converged component labeling is silently
    wrong (nodes of one component carry different labels), so strict
    callers fail loudly instead."""


def propagate_min_labels(
    labels: DataFrame,
    und: DataFrame,
    keys: list[str],
    max_iters: int,
    strict: bool = True,
) -> DataFrame:
    """Fixpoint of label[n] <- min(label[n], min over in-neighbors).

    ``labels``: (*keys, node, label) with numeric labels (initially
    label = node); ``und``: (*keys, a, b) UNDIRECTED edge list (both
    directions present).  Returns converged (*keys, node, label).

    If ``max_iters`` is exhausted before the fixpoint (graph diameter >
    cap), raises :class:`ConvergenceError` when ``strict`` (default) or
    emits a ``warnings.warn`` and returns the partial labels otherwise —
    never silently returns a non-converged labeling as if converged.
    """
    labels = labels.localCheckpoint()
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    for _ in range(max_iters):
        prop = und.join(
            labels.withColumnRenamed("node", "a"), [*keys, "a"]
        ).select(*keys, F.col("b").alias("node"), "label")
        labels = (
            labels.unionByName(prop)
            .groupBy(*keys, "node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        msg = (
            f"min-label propagation did not converge within {max_iters} "
            "iterations (graph diameter exceeds cap); labels are partial"
        )
        if strict:
            raise ConvergenceError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    return labels

