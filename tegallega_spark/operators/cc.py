"""Connected components over a pair graph — dedup-cluster construction.

Near-duplicate detection (MinHash / SimHash / exact-jaccard, operators/dedup.py)
emits PAIRS; a training-data pipeline needs CLUSTERS so it can keep one
canonical document per group (the reference's A1 "first wins" generalized to
transitive similarity: if A~B and B~C, all three are one cluster even when
A~C was never emitted).

Algorithm: iterative min-label propagation.  Every node starts labeled with
its own id; each round every node takes the min of its label and its
neighbors' labels; converged when no label changes.  Rounds needed = graph
diameter, and each round is ONE shuffle join keyed on node id.

Scale notes (100 TB):
- Dedup-similarity graphs are overwhelmingly short chains and small blobs
  (diameter ≤ ~5), so diameter-bounded propagation is the right trade — the
  O(log n)-round large-star/small-star variant (Kiveris et al., "Connected
  Components in MapReduce and Beyond") only wins on adversarially long
  chains.
- `localCheckpoint` after every round truncates lineage; without it the plan
  doubles per iteration and the driver OOMs on plan serialization long
  before the executors break a sweat.
- The convergence check is a count() of changed labels, FUSED with the
  round's checkpoint materialization (lazy localCheckpoint + one count
  action) — one job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from tegallega_spark.session import CheckpointHandle, attach_intermediates

_NOT_CONVERGED = "connected_components did not converge"


def _single_task_components(und: DataFrame, max_iter: int) -> DataFrame:
    """One-job small-graph profile: the SAME per-round min-label
    propagation, vectorized with numpy inside a single executor task.

    The distributed loop below pays 2+ scheduled jobs and a checkpoint
    barrier per UNROLL cycle; on a measured-small graph (the common case
    for dedup pair graphs — q23 at sf0.1 is 256 edges) that is ~10 jobs
    of pure scheduling latency around microseconds of work.  Below the
    measured SMALL_GRAPH_EDGES gate the whole symmetrized edge list fits
    one task (≤2·SMALL_GRAPH_EDGES rows ≈ 2^23 longs ≈ 130 MB), so the
    rounds run as numpy sweeps (`np.minimum.at` over the edge arrays) in
    ONE job.  Round semantics are identical to the join form — each
    round reads the PREVIOUS round's labels, no intra-round cascading —
    so converged labels match the distributed path exactly, and
    non-convergence raises the same contract (re-wrapped driver-side by
    the caller, since the task's RuntimeError surfaces as a
    PythonException)."""
    id_t = und.schema["s"].dataType
    schema = T.StructType(
        [T.StructField("node", id_t), T.StructField("label", id_t)]
    )

    def fn(batches):
        import numpy as np
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        both = np.concatenate([pdf["s"].to_numpy(), pdf["d"].to_numpy()])
        # np.unique sorts, so label INDEX order == id order and the min
        # index of a component is the min id (numpy str compare is by
        # code point, which matches Spark's binary UTF-8 ordering)
        uniq, inv = np.unique(both, return_inverse=True)
        e_s, e_d = inv[: len(pdf)], inv[len(pdf):]
        lab = np.arange(len(uniq))
        converged = len(e_s) == 0
        for _ in range(max_iter):
            if converged:
                break
            new = lab.copy()
            np.minimum.at(new, e_d, lab[e_s])  # reads OLD lab: one round
            if np.array_equal(new, lab):
                converged = True
                break
            lab = new
        if not converged:
            raise RuntimeError(_NOT_CONVERGED)
        yield pd.DataFrame({"node": uniq, "label": uniq[lab]})

    return und.coalesce(1).mapInPandas(fn, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node of an undirected pair graph with min(node id) of its
    component.

    Parameters
    ----------
    edges : DataFrame with two id columns (any orderable type); treated as
        undirected.  Isolated nodes (no edges) are not represented — callers
        that want singleton clusters union them in afterwards.
    Returns DataFrame(node, cluster_id).
    """
    from tegallega_spark.operators.graph import SMALL_GRAPH_EDGES, UNROLL

    und = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    und = und.union(und.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    # LAZY checkpoint: the count() below materializes it (one job instead
    # of eager-checkpoint + count), and the measured edge count drives the
    # small-graph execution profile — the analyzed-plan size gate cannot
    # see through join-derived pair inputs (a join's estimate multiplies
    # its sides upward), so a 5 k-doc dedup graph would never fire it.
    und = und.localCheckpoint(eager=False)
    und_h = CheckpointHandle(und)
    n_edges = und.count()

    # On a small graph each round's two shuffles under AQE are separately
    # planned stage jobs (~100 ms each) doing microseconds of work; below
    # the measured SMALL_GRAPH_EDGES gate run ALL the rounds inside one
    # executor task (one job, numpy sweeps — see _single_task_components).
    # At real scale the gate never fires and the iterative join loop below
    # keeps AQE's skew/coalesce wins.
    if n_edges < SMALL_GRAPH_EDGES:
        labels = _single_task_components(und, max_iter).localCheckpoint(
            eager=False
        )
        final_h = CheckpointHandle(labels)
        try:
            # one job: materializes the checkpoint AND surfaces the
            # task-side convergence failure eagerly (callers expect the
            # RuntimeError at call time, not at their first action)
            labels.count()
        except Exception as e:  # PythonException wraps the task's error
            und_h.unpersist()
            final_h.unpersist()
            if _NOT_CONVERGED in str(e):
                raise RuntimeError(
                    f"{_NOT_CONVERGED} in max_iter={max_iter} rounds; the "
                    "graph diameter exceeds max_iter — raise it"
                ) from None
            raise
        und_h.unpersist()
        out = labels.select("node", F.col("label").alias("cluster_id"))
        out._tegallega_persisted = [final_h]
        return out

    labels = (
        und.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)  # round 1's single action materializes it
    )
    labels_h = CheckpointHandle(labels)

    # Propagation rounds are batched UNROLL per checkpoint/convergence
    # cycle (the GraphX-Pregel checkpoint-interval trade): per-round fixed
    # costs — driver plan construction, the convergence action, the
    # checkpoint barrier — divide by the unroll factor, while min-label
    # propagation is idempotent past convergence, so overshooting inside
    # the final cycle wastes at most UNROLL−1 no-op rounds.
    rounds_left = max_iter
    n_changed = 0
    while rounds_left > 0:
        cur = labels
        for _ in range(min(UNROLL, rounds_left)):
            # min label among each node's neighbors, one shuffle keyed
            # on node
            lbl = cur.select(F.col("node").alias("s"), "label")
            nbr_min = (
                und.join(lbl, "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.min("label").alias("nbr_label"))
            )
            cur = cur.join(nbr_min, "node", "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            rounds_left -= 1
        # LAZY checkpoint + fused convergence count: the single count()
        # action materializes every partition of this cycle's label set
        # (the filter sits above the checkpoint barrier — nothing is
        # pruned through it) AND counts the changed labels, where the
        # eager form paid one job to checkpoint and a second to count
        # — per ROUND, not per cycle.
        old = labels.select("node", F.col("label").alias("__old"))
        proposed = (
            cur.join(old, "node", "left")
            .select(
                "node",
                "label",
                (F.col("label") < F.col("__old")).alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = proposed.filter("changed").count()
        # the superseded cycle's checkpoint is dead the moment its
        # successor materializes — free it NOW, not at ContextCleaner's
        # leisure (a 20-round run would otherwise hold 20 generations of
        # the full label set in block storage simultaneously)
        labels_h.unpersist()
        labels_h = CheckpointHandle(proposed)
        labels = proposed.drop("changed")
        if n_changed == 0:
            break

    if n_changed:
        und_h.unpersist()
        labels_h.unpersist()
        # Returning unconverged labels would silently split one dup cluster
        # into several "canonical" near-duplicates downstream — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds ({n_changed} labels still changing); the graph diameter "
            "exceeds max_iter — raise it"
        )

    und_h.unpersist()  # only the final label set outlives the loop
    out = labels.select("node", F.col("label").alias("cluster_id"))
    out._tegallega_persisted = [labels_h]
    return out


def dedup_cluster_assignments(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Cluster assignment + size from a near-duplicate pair list.

    Returns DataFrame(doc_id, cluster_id, cluster_size) for every doc that
    appears in at least one pair; cluster_id = min doc id of the component,
    so `doc_id == cluster_id` marks the canonical keeper.
    """
    comp = connected_components(pairs, src=id_a, dst=id_b)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return attach_intermediates(
        comp.join(sizes, "cluster_id").select(
            F.col("node").alias("doc_id"), "cluster_id", "cluster_size"
        ),
        comp,
    )
