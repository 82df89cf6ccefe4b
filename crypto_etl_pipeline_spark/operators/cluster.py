"""Connected components for duplicate-cluster resolution (§2.13).

Near-dup detection yields PAIRS; deduplication needs CLUSTERS (keep
one canonical doc per component of the similarity graph). This is the
standard iterative min-label propagation:

    label(v) <- min(label(v), min over neighbors(label(u)))

repeated until fixpoint. Each iteration is one join + one groupBy —
fully distributed; the driver only checks a scalar convergence
indicator. Iteration count is bounded by the graph diameter, and
near-dup graphs are overwhelmingly tiny star/clique components, so
2-4 iterations settle real corpora. (GraphFrames implements the same
algorithm with large-graph optimizations; this dependency-free version
keeps the engine self-contained.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _contract_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Partition-local union-find contraction (r13 optimization).

    One map-only Arrow pass: each task runs union-find over ITS edge
    partition (memory = O(distinct endpoints in the partition), the
    same class as a hash aggregation) and emits ``(node, local_root)``
    star edges with ``root = min id`` of the node's partition-local
    component. Connectivity is preserved exactly — every original edge
    (u, v) lives in exactly one partition, where u and v end up under
    one root r, and the emitted u->r / v->r rows keep them connected —
    so the min-label loop downstream computes identical components.
    What changes is the iteration count: all within-partition paths
    collapse to depth 1 before the first distributed round, so the
    loop converges in rounds proportional to the CROSS-partition
    diameter (typically 1-2) instead of the full graph diameter.
    Measured at sf0.1 (2000-node similarity graph, 775 edges): 8
    rounds / 71 jobs / 2.7 s -> 2 rounds / 17 jobs / 1.4 s, byte-
    identical labels.

    Root choice uses Python ``<`` on the id values; for long ids and
    ASCII string ids (this repo's two node-id types) that is the same
    total order as Spark's ``F.min``, which the loop and the oracle
    twins rely on. Self-loops and (root == node) rows are dropped —
    they add no connectivity; a node whose every edge was dropped this
    way exits the endpoint set and takes the singleton path below.
    Deterministic under task retry: output depends only on the task's
    input partition.
    """
    out_schema = edges.select(F.col(src_col), F.col(dst_col)).schema
    a_name, b_name = out_schema[0].name, out_schema[1].name

    def uf_part(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            # Guard only: null endpoints are filtered in Spark below,
            # before Arrow could widen the batch's int64 ids to float64.
            pdf = pdf.dropna()
            for x, y in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                if x not in parent:
                    parent[x] = x
                if y not in parent:
                    parent[y] = y
                rx, ry = find(x), find(y)
                if rx == ry:
                    continue
                if ry < rx:
                    rx, ry = ry, rx
                parent[ry] = rx
        if not parent:
            return
        nodes = list(parent)
        out = pd.DataFrame({a_name: nodes, b_name: [find(n) for n in nodes]})
        yield out[out[a_name] != out[b_name]]

    # Null endpoints are non-edges, as in the pre-r13 join-based loop.
    # Drop them in Spark: a null in an Arrow batch turns the batch's
    # int64 ids into float64, which loses ids above 2^53.
    return (
        edges.select(F.col(src_col), F.col(dst_col))
        .where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .mapInPandas(uf_part, out_schema)
    )


#: row bound for finishing connected components in ONE task after the
#: level-0 contraction: a single union-find over k star edges holds
#: O(k) dict entries (~150 B each incl. Python object overhead), so
#: 1M rows is ~150-300 MB of task memory — the same order as one
#: skewed hash-aggregation partition, and far below the executor
#: budget the session runs with. Graphs whose CONTRACTED edge set
#: exceeds this take the distributed min-label loop instead, so the
#: single-task finish is a threshold-gated fast path with a loop
#: fallback, not a scale assumption. At 100 TB the contracted set is
#: collision-density-sized (stars over partition-local components),
#: so real near-dup graphs usually stay under the cap; adversarial
#: ones degrade to the loop, never to an OOM.
_SINGLE_TASK_EDGE_CAP = 1_000_000


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) — component = min node id reachable from id.

    ``nodes``: one row per vertex; singletons keep their own id.
    ``edges``: undirected pairs (each edge propagates both ways).

    Non-convergence within ``max_iter`` raises RuntimeError: unconverged
    labels would split real components."""
    # Iterative jobs MUST materialize between rounds: a lazy loop would
    # re-derive the whole upstream plan (here: the similarity self-join
    # producing the edges) once per iteration, and the lineage would
    # deepen every round. localCheckpoint truncates lineage and caches
    # partitions executor-side; at cluster scale swap for reliable
    # checkpoint(dir) — same structure.
    #
    # Checkpoints are LAZY (eager=False): the per-round convergence agg
    # is the action that materializes them, so each round costs ONE job
    # (join + groupBy + sum over the freshly-cached partitions) instead
    # of a materialization job followed by a separate agg job.
    # The loop runs ONLY over edge ENDPOINTS: a node with no incident
    # edge can never receive a smaller label, so singletons are their
    # own component by construction and rejoin at the end. On a real
    # near-dup corpus the endpoint set is proportional to collision
    # density (a sliver of the corpus), so every per-round join/agg
    # touches a table orders of magnitude smaller than `nodes` — at
    # 100 TB this is the difference between iterating over megabytes
    # and iterating over the whole corpus.
    # r13: contract partition-local paths FIRST (one map-only pass, no
    # shuffle) so the distributed loop below iterates over star edges
    # and converges in rounds ~ the cross-partition diameter. See
    # _contract_edges for the equivalence argument and measurements.
    star = _contract_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    n_star = star.count()
    if n_star == 0:
        # No surviving edge (empty graph, or self-loops only): every
        # node is its own component — skip the loop entirely.
        return nodes.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("component")
        )
    if n_star <= _SINGLE_TASK_EDGE_CAP:
        # The contracted graph fits one task: finish the union-find
        # EXACTLY in a single map pass over all star edges instead of
        # paying per-round scheduling for a label-propagation loop
        # whose every round is pure fixed cost at this size. The
        # result is the complete (endpoint -> global min root)
        # mapping — identical labels to the loop's fixpoint, so the
        # max_iter contract is trivially satisfied (converged
        # by construction). The cap is a ROW bound (task memory is
        # O(distinct endpoints), the same class as one hash-agg
        # partition); graphs above it take the distributed loop below,
        # which the level-0 contraction has already flattened.
        # Measured at sf0.1 (170-pair doc graph): loop 27 jobs/~4 s ->
        # 9 jobs/~0.9 s, byte-identical labels.
        final = _contract_edges(star.repartition(1), src_col, dst_col)
        labels = final.select(
            F.col(src_col).alias("id"), F.col(dst_col).alias("component")
        ).localCheckpoint(eager=False)
        return nodes.select(F.col(id_col).alias("id")).join(
            labels.withColumnRenamed("id", "_lid"),
            F.col("id") == F.col("_lid"),
            "left",
        ).select("id", F.coalesce("component", "id").alias("component"))
    sym = (
        star.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(star.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    converged = False

    for r in range(max_iter):
        msgs = (
            sym.join(labels, sym.a == labels.id)
            .select(F.col("b").alias("id"), F.col("component"))
        )
        prop = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        if r < 2:
            # Shallow near-dup graphs (tight clusters) converge in 1-2
            # plain rounds; don't pay the jump join for them.
            new_labels = prop.localCheckpoint(eager=False)
        else:
            # Pointer jump (path compression): from round 3 on, each
            # label also adopts its LABEL's label — propagation distance
            # doubles per round, so chain-shaped graphs (exactly what
            # mid-threshold similarity pair sets produce) converge in
            # O(log diameter) rounds instead of exhausting max_iter.
            # Silently returning unconverged labels is the failure mode
            # this replaces — non-convergence now RAISES below. prop is
            # referenced on both sides of the join: checkpoint so the
            # propagation agg runs once. Every component value is itself
            # an endpoint id, so the self-join is total (left join
            # guards the invariant anyway).
            prop = prop.localCheckpoint(eager=False)
            jump = prop.select(
                F.col("id").alias("_jid"), F.col("component").alias("_jcomp")
            )
            new_labels = (
                prop.join(jump, prop.component == F.col("_jid"), "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_jcomp"), F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=False)
            )
        # Converged when no label decreased: labels only ever decrease,
        # so an unchanged sum == identical assignment. This agg is the
        # single action of the round — it both materializes new_labels'
        # checkpoint and returns the indicator. (No separate job to
        # seed prev_sum: round 1 always runs, and its sum primes the
        # comparison.)
        new_sum = new_labels.agg(F.sum("component")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(doubled propagation covers diameter 2^rounds — raise max_iter)"
        )
    # Singletons (no incident edges) rejoin with component = own id.
    # The label table is collision-density-sized, so AQE will broadcast
    # it against a large node table on a real cluster.
    return nodes.select(F.col(id_col).alias("id")).join(
        labels.withColumnRenamed("id", "_lid"),
        F.col("id") == F.col("_lid"),
        "left",
    ).select("id", F.coalesce("component", "id").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) from near-dup ``(id_a, id_b)``
    pairs.

    cluster_id = min doc id in the component; the canonical row is the
    one to KEEP when deduplicating a corpus. Raises RuntimeError if the
    components do not converge (see :func:`connected_components`).
    """
    comp = connected_components(
        docs.select(id_col), pairs, id_col=id_col, src_col="id_a", dst_col="id_b"
    )
    return comp.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )
