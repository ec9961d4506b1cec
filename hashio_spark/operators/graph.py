"""Connected components over candidate-pair graphs — duplicate-cluster
resolution.

LSH/SimHash emit near-dup PAIRS; to actually deduplicate a corpus you
need the transitive clusters (keep one representative per component,
drop the rest).  This is the min-label-propagation algorithm as an
iterative DataFrame program:

* every node starts labeled with itself;
* each round, a node's label becomes the min of its own and its
  neighbors' labels (one symmetric edge join + one min-aggregation —
  two shuffles per round);
* stop when a round changes nothing (the convergence check is an O(1)
  count action per round, not a collect of the labels).

Rounds needed = the graph diameter.  Near-dup graphs are unions of
near-cliques (all members of an LSH bucket pair with each other), so the
diameter is tiny (2-4) and this beats the asymptotically-better
star-contraction algorithms (Kiveris et al., "Connected Components in
MapReduce and Beyond") on constants; for adversarially chained graphs
set ``max_iter`` accordingly or contract first.  Each round's labels are
``localCheckpoint``-ed — this is load-bearing, not an optimization: the
round's plan references the previous round's plan TWICE (neighbor-min
join + label-carry join), so without lineage truncation the logical
plan doubles per round and Catalyst analysis goes exponential (a
diameter-10 graph hangs the driver).  Checkpointing keeps the plan
depth constant; superseded checkpoint RDDs are released by Spark's
ContextCleaner once unreferenced.  ``localCheckpoint`` stores blocks on
executors, so an executor loss mid-computation fails the job (rerun)
rather than recomputing — the usual trade for iterative algorithms; use
a reliable ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``
variant if running on preemptible nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node in ``edges``; ``component`` is
    the smallest node id reachable from it.  Nodes are whatever type the
    edge columns are; isolated nodes (absent from ``edges``) are absent
    from the output — union them in with their own id if needed.

    Size-gated hybrid: when the deduplicated symmetric edge set has at
    most ``driver_threshold`` rows (an exact count on the persisted
    frame, not an estimate), the components come from a driver-side
    union-find — the edge set is KB-to-MB scale there, and each
    distributed round costs two actions plus a checkpoint of pure
    scheduling latency that dwarfs the actual work.  Above the gate the
    iterative min-label propagation below runs unchanged; it is the only
    shape that survives graphs whose edge set exceeds driver memory
    (10^12-doc corpora can hold billions of near-dup edges).  Both paths
    produce the identical labeling (component = min reachable node), so
    the gate is a pure latency decision, same as the broadcast-vs-shuffle
    join threshold.  Set ``driver_threshold=0`` to force the distributed
    path."""
    a, b = F.col(src), F.col(dst)
    # ONE pass over the edge frame: explode(array(fwd, rev)) emits both
    # directions without the former two-branch union, whose branches each
    # recomputed the whole upstream pair pipeline.  NULL endpoints are
    # dropped up front: the label-propagation joins would drop them
    # anyway, and the driver union-find cannot order None against real
    # ids (both paths now agree on ignoring null edges).
    sym = (
        edges.filter(a.isNotNull() & b.isNotNull())
        .select(
            F.explode(
                F.array(
                    F.struct(a.alias("n"), b.alias("m")),
                    F.struct(b.alias("n"), a.alias("m")),
                )
            ).alias("_e")
        )
        .select("_e.n", "_e.m")
        .distinct()
        .persist()
    )
    if driver_threshold > 0 and sym.count() <= driver_threshold:
        try:
            rows = sym.collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                n, m = r["n"], r["m"]
                parent.setdefault(n, n)
                parent.setdefault(m, m)
                rn, rm = find(n), find(m)
                if rn != rm:
                    # union by min so every root IS its component's min id
                    lo, hi = (rn, rm) if rn <= rm else (rm, rn)
                    parent[hi] = lo
            out_rows = [(x, find(x)) for x in parent]
            spark = edges.sparkSession
            schema = sym.select(F.col("n").alias("node"), F.col("m").alias("component")).schema
            # Arrow path: a plain list of tuples goes through per-row
            # pickling (measured 1.4 s for 11k rows); a pandas frame with
            # arrow.pyspark.enabled rides one Arrow batch (~0.1 s)
            import pandas as pd

            pdf = pd.DataFrame(out_rows, columns=["node", "component"], dtype=object)
            return spark.createDataFrame(pdf, schema)
        finally:
            sym.unpersist()
    labels = (
        sym.select("n")
        .distinct()
        .select(F.col("n"), F.col("n").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    try:
        for _ in range(max_iter):
            cand = (
                sym.join(labels.withColumnRenamed("n", "m"), "m")
                .groupBy("n")
                .agg(F.min("label").alias("_nbr"))
            )
            # carry the previous label through the update so convergence is
            # a filter-count on the materialized new frame — not an extra
            # join back against the old labels (one fewer shuffle/round).
            # localCheckpoint (NOT persist) — see module docstring: it
            # truncates the self-referencing lineage that otherwise makes
            # Catalyst analysis exponential in the round count.
            labels = (
                labels.join(cand, "n", "left_outer")
                .select(
                    "n",
                    F.col("label").alias("_old"),
                    F.least(F.col("label"), F.coalesce(F.col("_nbr"), F.col("label"))).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = labels.filter(F.col("label") != F.col("_old")).count()
            if changed == 0:
                break
        if changed != 0:
            # silently returning mid-propagation labels would hand the
            # caller WRONG clusters (a node's component might itself not
            # be a representative) — near-dup graphs converge in rounds ≈
            # diameter (2-4), so hitting the cap means the input is not
            # the graph this was tuned for
            raise RuntimeError(
                f"connected_components did not converge in max_iter={max_iter} "
                f"rounds ({changed} labels still changing); the graph's diameter "
                "exceeds the cap — raise max_iter or contract the graph first"
            )
        out = labels.select(F.col("n").alias("node"), F.col("label").alias("component"))
        # the final checkpoint backs the returned plan; expose it through
        # the release handle for API symmetry (release() then lets the
        # ContextCleaner reclaim the checkpoint once callers drop `out`)
        from hashio_spark.caching import track

        return track(out, labels)
    finally:
        sym.unpersist()


def duplicate_clusters(pairs: DataFrame, key_a: str, key_b: str) -> DataFrame:
    """(key, cluster_id, keep) from near-dup pairs: cluster_id is the
    min key of the component, ``keep`` marks the one representative —
    the corpus-side drop list is ``filter(~keep)``."""
    from hashio_spark.caching import carry

    cc = connected_components(pairs, key_a, key_b)
    out = cc.select(
        F.col("node").alias("key"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("keep"),
    )
    return carry(out, cc)
