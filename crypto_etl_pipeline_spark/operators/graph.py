"""Graph algorithms over edge DataFrames (beyond connected components).

PageRank as the canonical driver-looped iterative workload: each
iteration is one join + one keyed aggregation, fully distributed; the
driver holds only the loop counter. The degree-annotated edge table is
the loop invariant, cut from its lineage by a lazy localCheckpoint so
no iteration re-executes the edge-building subtree (the discipline of
operators/cluster.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: PageRank damping factor ``d``
DAMPING = 0.85
#: PageRank power iterations (fixed, so the unrolled SQL oracle replays them)
PAGERANK_ITERS = 2


def pagerank(edges: DataFrame) -> DataFrame:
    """(node, rank) after ``PAGERANK_ITERS`` power iterations from rank=1.0.

    Standard formulation: rank(v) = (1-d) + d * sum over in-edges of
    rank(u)/outdeg(u). Fixed iteration count (not convergence-tested)
    keeps the result exactly reproducible in the unrolled SQL oracle.

    Precondition: every node has an in-edge — a bidirectional edge set,
    as both callers build — so the per-iteration contributions cover
    every node and no node table is needed. A node with only out-edges
    would be missing from the result.

    Physical plan, for dimension-keyed graphs (here customer x
    supplier, generally any graph whose NODE set is dimension-sized
    while the EDGE set is fact-sized): degree and per-iteration ranks
    are tiny relative to edges, so they join by BROADCAST. The edge
    table then never shuffles and never window-sorts: contributions
    partial-aggregate map-side into at most partitions x nodes rows.
    """
    # Checkpoint the RAW edges first: the degree broadcast job and the
    # annotated-edge materialization would each execute the caller's
    # whole edge-building subtree (fact join + distinct) from scratch;
    # behind the cut it runs once and both read the materialized rows.
    # The annotated table is the loop invariant, checkpointed so each
    # iteration's plan does not re-embed its subtree (the lineage
    # discipline of operators/cluster.py).
    e0 = edges.localCheckpoint(eager=False)
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    e = e0.join(F.broadcast(deg), "src").localCheckpoint(eager=False)
    ranks = None
    for i in range(PAGERANK_ITERS):
        if i == 0:
            # Uniform start (rank=1.0 everywhere): the contribution of
            # every edge is exactly 1/outdeg, so the first iteration
            # needs NO rank join at all — one groupBy over e.
            contribs = e.select(
                F.col("dst").alias("node"), (F.lit(1.0) / F.col("_deg")).alias("_c")
            )
        else:
            rhs = F.broadcast(ranks)
            contribs = e.join(rhs, e["src"] == rhs["node"]).select(
                F.col("dst").alias("node"), (F.col("rank") / F.col("_deg")).alias("_c")
            )
        agg = contribs.groupBy("node").agg(F.sum("_c").alias("_s"))
        base = (1.0 - DAMPING) + DAMPING * F.coalesce(F.col("_s"), F.lit(0.0))
        ranks = agg.select("node", base.alias("rank"))
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient, one row:
    (n_nodes, n_edges, n_wedges, n_triangles, global_clustering).

    Input: undirected (u, v) edges. Normalized here to canonical (min, max)
    distinct pairs with self-loops dropped, so callers can pass raw
    pair streams.

    Algorithm: degree-ordered orientation (the MapReduce formulation of
    Suri & Vassilvitskii, WWW'11). Each undirected edge is oriented
    from its LOWER-(degree, id) endpoint to its higher one; wedges are
    enumerated only at their lowest-ranked vertex, then closed by one
    join back against the oriented edge set. Orientation bounds the
    per-vertex wedge fan-out by O(sqrt(m)) regardless of raw degree —
    a star's hub generates ZERO wedges because all its edges point
    inward — so total intermediate size is O(m^1.5) instead of
    sum(deg^2), the difference between feasible and not on skewed
    100 TB graphs.

    Physical plan: the degree table is node-sized, so both orientation
    joins broadcast it and the edge table shuffles only for the wedge
    self-join (on the wedge apex) and the closing join (on the (b, c)
    pair). Wedge totals (sum over nodes of C(deg, 2))
    come straight off the degree aggregate — no extra pass.
    """
    e = (
        edges.select(
            F.least(F.col("u"), F.col("v")).alias("a"),
            F.greatest(F.col("u"), F.col("v")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db")))
    # Orient low-(degree, id) -> high-(degree, id): src/dst plus the
    # dst's rank key, carried so wedge legs can be ordered without
    # another degree join.
    ann = e.join(da, "a").join(db, "b")
    fwd = F.col("da") < F.col("db")
    tie = (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    # Checkpointed WITHOUT pre-partitioning on the wedge apex: the
    # wedge self-join aliases src on both sides, and self-join
    # attribute deduplication breaks alias-tracked partitioning reuse
    # (verified in the sf0.1 plan — both sides re-shuffled anyway), so
    # a repartition here would only add an exchange. The checkpoint
    # still pins the orientation subtree to one execution across its
    # three consumers (o1, o2, closing).
    oriented = ann.select(
        F.when(fwd | tie, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd | tie, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd | tie, F.col("db")).otherwise(F.col("da")).alias("dd"),
    ).localCheckpoint(eager=False)
    # Wedges at the apex: unordered leg pairs, ordered by the same
    # (degree, id) rank so the closing edge — which is oriented from
    # the lower-ranked leg to the higher — matches exactly once.
    o1 = oriented.select(
        F.col("src").alias("apex"), F.col("dst").alias("p"), F.col("dd").alias("pd")
    )
    o2 = oriented.select(
        F.col("src").alias("apex"), F.col("dst").alias("q"), F.col("dd").alias("qd")
    )
    leg_order = (F.col("pd") < F.col("qd")) | (
        (F.col("pd") == F.col("qd")) & (F.col("p") < F.col("q"))
    )
    wedges = o1.join(o2, "apex").where(leg_order).select("p", "q")
    closing = oriented.select(F.col("src").alias("p"), F.col("dst").alias("q"))
    tri = wedges.join(closing, ["p", "q"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    # All-integral arithmetic: sum(d*(d-1)) on a skewed web-scale graph
    # can exceed 2^53, where a double-division detour would silently
    # round an otherwise exact statistic. Long sums + `div 2` keep it
    # exact end to end (both d-sums are even, so div is lossless);
    # ANSI mode turns a genuine >2^63 overflow into an error, not a
    # wrong answer.
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d").cast("long")).alias("_dsum"),
        F.sum(F.col("d").cast("long") * (F.col("d").cast("long") - 1)).alias("_wsum"),
    ).select(
        "n_nodes",
        F.expr("_dsum div 2").alias("n_edges"),
        F.expr("_wsum div 2").alias("n_wedges"),
    )
    return (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("global_clustering"),
        )
    )


#: k-core peeling rounds (threshold applications)
KCORE_ROUNDS = 2


def kcore_peel(edges: DataFrame) -> DataFrame:
    """k-core peeling (Seidman 1983; the Batagelj-Zaversnik distributed
    variant): alternately delete nodes of degree < k and recompute
    degrees over ``KCORE_ROUNDS`` threshold applications (2 == filter on
    deg0, recompute, filter on deg1 — survivors report deg1 as
    deg_final). ``edges`` must be the DIRECTED expansion of an
    undirected graph (both (u,v) and (v,u) rows), so degree ==
    out-degree and each round is one groupBy + one semi-join pair.

    k is the ceil of the exact median initial degree — scale-adaptive,
    so the same query peels meaningfully at every SF. Fixed rounds keep
    the operator oracle-unrollable (the pagerank discipline); at scale
    the loop is driver-scheduled over cached frames, O(E) work per
    round.

    Returns survivors after the final round: (node, deg0, deg_final).
    """
    deg0 = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg0"))
    kdf = deg0.agg(F.ceil(F.expr("percentile(deg0, 0.5)")).cast("long").alias("_k"))
    # scalar join-back (broadcast 1-row): the house pattern for
    # corpus-derived constants — never a collect in the lazy plan.
    # r14: checkpointed — deg0 (a full-edge-set aggregation) was
    # re-executed by every downstream consumer that broadcasts a
    # `keep` frame derived from it (2 semi-join broadcasts per round
    # plus the final join), since ReuseExchange cannot dedup across
    # separate broadcast jobs. One materialization, same rows.
    cur = (
        deg0.join(F.broadcast(kdf))
        .withColumn("deg", F.col("deg0"))
        .localCheckpoint(eager=False)
    )
    e = edges
    alive = cur
    for r in range(KCORE_ROUNDS):
        alive = cur.where(F.col("deg") >= F.col("_k"))
        if r == KCORE_ROUNDS - 1:
            break
        keep = alive.select("node", "deg0", "_k")
        e = (
            e.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
        )
        cur = (
            e.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .join(keep, "node")
        )
    return alive.select("node", "deg0", F.col("deg").alias("deg_final"))


def label_propagation(edges: DataFrame) -> DataFrame:
    """(node, community) after 2 SYNCHRONOUS label-propagation
    rounds (Raghavan et al. 2007) from community = own node id.

    Update rule: community(v) <- the most frequent community among
    v's in-neighbors, ties broken by the SMALLEST community id. The
    synchronous schedule plus the total tie order makes the result a
    pure function of the edge set — reproducible across partitionings
    and unrollable into a SQL twin (the async variant standard in
    single-machine codes is schedule-dependent and cannot be oracled).

    Physical shape mirrors :func:`pagerank`: the edge table is the
    loop invariant behind a lazy localCheckpoint and the node-sized
    label table joins by broadcast; each round is one join + two keyed
    aggregations — per-(node, community) counts, then a max(struct)
    argmax, which both partial-aggregate map-side. The first round
    needs no join at all: every neighbor's label IS its id. Assumes
    every node has an in-edge (true for bidirectional edge sets);
    callers with dangling nodes should union them back unchanged.
    """
    # Without the checkpoint each round's neighbor frame (and the label
    # frame's own lineage) re-embeds — and re-executes — the whole
    # edge-building subtree (measured: 4 copies of the lineitem⨝orders
    # build at 2 rounds).
    e = edges.localCheckpoint(eager=False)

    def _argmax(cnt: DataFrame) -> DataFrame:
        # max over (count, -community) == highest count, then smallest
        # community — one aggregation, no per-node window sort.
        m = cnt.groupBy("node").agg(
            F.max(F.struct(F.col("_cnt").alias("c"), (-F.col("community")).alias("nc"))).alias("_m")
        )
        return m.select("node", (-F.col("_m.nc")).alias("community"))

    labels = None
    for i in range(2):
        if i == 0:
            nbr = e.select(F.col("dst").alias("node"), F.col("src").alias("community"))
        else:
            rhs = F.broadcast(labels)
            nbr = e.join(rhs, e["src"] == rhs["node"]).select(
                F.col("dst").alias("node"), "community"
            )
        cnt = nbr.groupBy("node", "community").agg(F.count(F.lit(1)).alias("_cnt"))
        labels = _argmax(cnt)
    return labels
