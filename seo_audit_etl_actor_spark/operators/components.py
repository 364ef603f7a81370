"""Connected components over a near-duplicate pair graph — the cluster step
of real LLM-corpus dedup: LSH emits pairwise matches, but "keep one doc per
duplicate CLUSTER" needs the transitive closure (A~B, B~C → one canonical
for {A,B,C}), then one survivor per component.

Engine extension surface (the reference has no graph ops; BASELINE.json
north star). Algorithm: iterative min-label propagation —
label(v) := min(label(v), min over neighbors' labels) to fixpoint. Each
iteration is one shuffle join + one aggregate, and the iteration count is
the graph DIAMETER, not the vertex count; near-dup graphs are clique-ish
(LSH verification connects most of each cluster directly), so 2-4
iterations close real corpora. A long-diameter graph costs one round per
hop; no catalog input has one, so this is the one convergence loop.

Scale notes:
- `localCheckpoint` after every iteration truncates lineage — without it
  the plan doubles per round and planning time explodes by iteration 10;
- labels are (long, long) rows — the shuffle moves 16 bytes per vertex
  per round regardless of document size;
- convergence check is one label-sum scan per round of the just-
  checkpointed labels (see the loop), a driver-side fixpoint test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(src, dst) undirected edge list → (vertex, component) where
    component = min vertex id in the connected component (deterministic
    canonical label). Raises if not converged within max_iter (real
    near-dup graphs converge in a handful of rounds), and raises TypeError
    for non-integral vertex ids: the label-sum convergence test below needs
    ids that cast exactly to DECIMAL(38,0)."""
    for c in (src, dst):
        dtype = edges.schema[c].dataType
        if not isinstance(dtype, T.IntegralType):
            raise TypeError(f"vertex id column {c!r} must be integral, got {dtype.simpleString()}")
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).unionByName(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
    )
    sym = sym.localCheckpoint(eager=True)
    # the eager checkpoint truncated lineage: any cache the edge pipeline
    # pinned (e.g. minhash_near_dup_pairs' persisted shingles) can never be
    # re-read from here — release it instead of leaking it for the session
    release = getattr(edges, "_spark_graft_release", None)
    if release is not None:
        release()
    import gc

    # r13 job-count trim (guide §2.4/§5): two jobs per round were pure
    # bookkeeping and are gone.
    # - Round 1 is FUSED: with label(v) = v initially, the first
    #   propagation is min(v, min incoming s) = one map-side-combining
    #   groupBy over sym with least(s, t) — no separate distinct-vertices
    #   checkpoint and no join against an all-identity label frame.
    # - Convergence is a DECIMAL(38,0) label-sum instead of an
    #   old⋈new join+count: each round's label is min(old label, …), so
    #   labels are pointwise non-increasing and the sum is strictly
    #   decreasing unless ALL labels are unchanged — sum-equal ⟺
    #   fixpoint. The sum is one cheap scan of the just-checkpointed
    #   frame (decimal: ~1e10 vertices × max-long ids ≈ 1e29 ≪ 1e38, no
    #   ANSI overflow); the join it replaces shuffled both label
    #   generations every round.
    labels = None
    label_sum: object = None
    for _ in range(max_iter):
        if labels is None:
            new_labels = (
                sym.select(F.col("t").alias("v"), F.least("s", "t").alias("label"))
                .groupBy("v")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
        else:
            prop = (
                sym.join(labels, sym["s"] == labels["v"])
                .select(F.col("t").alias("v"), F.col("label"))
            )
            new_labels = (
                labels.unionByName(prop)
                .groupBy("v")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        converged = labels is not None and new_sum == label_sum
        if labels is None and new_sum is None:
            # integral ids cast exactly, so a NULL round-1 sum means no
            # labels: the empty edge set, whose fixpoint is the empty labeling
            converged = True
        # drop the superseded generation's references and collect so
        # Spark's ContextCleaner can free its localCheckpoint blocks —
        # otherwise a long-diameter graph pins every iteration's
        # (vertex, label) snapshot in executor storage until session end
        labels = new_labels
        label_sum = new_sum
        del new_labels
        gc.collect()
        if converged:
            return labels.select(F.col("v").alias("vertex"), F.col("label").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def near_dup_cluster_assignments(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Near-dup pairs → (doc_id, cluster_id, cluster_size): every paired doc
    labeled with its component's min doc_id (the canonical survivor) and
    the component size. Keep-one-per-cluster is then a filter
    (doc_id == cluster_id); dedup ratio reporting comes from cluster_size.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, id_a, id_b)
    return (
        comp.select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("doc_id")
    )
