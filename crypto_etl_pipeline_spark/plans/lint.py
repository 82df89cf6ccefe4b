"""Plan-level broadcast-hint lint (shared by tests/test_registry_lint.py).

Walks the ANALYZED logical plan of a DataFrame looking for broadcast
``ResolvedHint`` nodes whose subtree reaches an SF-scaled parquet scan
(lineitem/orders/customer/supplier/part/events/documents/embeddings)
without an intervening row-bounding node (Aggregate / GlobalLimit /
LocalLimit). Such a hint forces Spark to materialize a fact-sized side
on the driver at scale — the 100 TB anti-pattern (VERDICT r6 #1).

Hints that survive an Aggregate are fine: the hinted frame is a
(grouped) aggregate whose cardinality is set by its keys, not by the
corpus — the per-query registry review is responsible for key
boundedness (the lint is the backstop for raw/projected fact sides).
"""

from __future__ import annotations

# Tables whose row count scales with SF (everything except nation/region).
SF_SCALED_TABLES = (
    "lineitem",
    "orders",
    "customer",
    "supplier",
    "part",
    "events",
    "documents",
    "embeddings",
)

# Nodes below which row count no longer tracks the scanned table.
# Deduplicate (.distinct()/.dropDuplicates()) bounds cardinality by its
# key set exactly as Aggregate does — a broadcast of distinct keys is
# the same dim-sized frame as a groupBy on them.
_BOUNDING_NODES = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate"}


def _children(node):
    cs = node.children()
    for i in range(cs.size()):
        yield cs.apply(i)


def _fact_scan_below(node):
    """First SF-scaled table reachable from ``node`` without passing
    through a row-bounding operator, else None."""
    name = node.getClass().getSimpleName()
    if name in _BOUNDING_NODES:
        return None
    if name == "LogicalRelation":
        # HadoopFsRelation: path lives on the file index, not toString()
        try:
            paths = node.relation().location().rootPaths()
            s = " ".join(paths.apply(i).toString() for i in range(paths.size()))
        except Exception:
            s = node.toString()
        for t in SF_SCALED_TABLES:
            if f"/{t}.parquet" in s or f"/{t}/" in s:
                return t
    for c in _children(node):
        hit = _fact_scan_below(c)
        if hit is not None:
            return hit
    return None


def unbounded_broadcast_hints(df):
    """Return [(table, hint_node_string_head)] for every broadcast hint
    in ``df``'s analyzed plan whose subtree reaches an SF-scaled scan
    with no Aggregate/Limit in between."""
    analyzed = df._jdf.queryExecution().analyzed()
    # cheap prefilter: the node walk is thousands of py4j round-trips
    # on a large plan, and most registry queries carry no hint at all —
    # one toString() decides whether the walk can find anything
    if "ResolvedHint" not in analyzed.toString():
        return []
    out = []
    stack = [analyzed]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "ResolvedHint" and "broadcast" in node.hints().toString().lower():  # noqa: E501
            hit = _fact_scan_below(node)
            if hit is not None:
                head = node.toString().split("\n", 1)[0]
                out.append((hit, head))
        stack.extend(_children(node))
    return out


# --------------------------------------------------------------------------
# Uncapped posting-self-join detector (VERDICT r7 task #5)
# --------------------------------------------------------------------------
#
# The hazard: explode a corpus column to postings, then self-equi-join
# ON THE EXPLODED VALUE (shingle, gram, token). A value appearing in
# *f* rows contributes C(f, 2) join rows on ONE shuffle key — quadratic
# on a boilerplate-heavy corpus. The guarded shape inserts a
# Window-count DF filter between the Generate and the Join
# (shingle_posting_pairs' shingle_df_cap); the lint taints attributes
# derived from a Generate output and flags any equi-join whose key is
# tainted on BOTH sides with no Aggregate/Limit/Window in between.
# Joins of two exploded sides on a NON-exploded key (e.g. doc_id) are
# fine: their fan-out is bounded per document, not per corpus.

_TAINT_STOP = {"Aggregate", "GlobalLimit", "LocalLimit", "Window"}


def _expr_attr_ids(expr):
    """exprIds of every AttributeReference in an expression tree."""
    out = set()
    stack = [expr]
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == "AttributeReference":
            out.add(e.exprId().id())
        cs = e.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))
    return out


def _generator_taint(node):
    """exprIds of attributes derived from a Generate (explode) output
    reachable from ``node`` without passing Aggregate/Limit/Window."""
    name = node.getClass().getSimpleName()
    if name in _TAINT_STOP:
        return set()
    taint = set()
    for c in _children(node):
        taint |= _generator_taint(c)
    if name == "Generate":
        out = node.generatorOutput()
        for i in range(out.size()):
            taint.add(out.apply(i).exprId().id())
    elif name == "Project" and taint:
        # aliases of tainted expressions propagate the taint under the
        # alias's new exprId (explode(..).alias("_g") analyzes to
        # Project(Alias(gen_out)) over Generate)
        pl = node.projectList()
        for i in range(pl.size()):
            ne = pl.apply(i)
            if ne.getClass().getSimpleName() == "Alias" and (
                _expr_attr_ids(ne.child()) & taint
            ):
                taint.add(ne.exprId().id())
    return taint


def _equi_pairs(cond):
    """(left_ids, right_ids) attribute-id sets per EqualTo between two
    plain attribute references in a join condition."""
    pairs = []
    stack = [cond]
    while stack:
        e = stack.pop()
        n = e.getClass().getSimpleName()
        if n == "EqualTo":
            l, r = e.left(), e.right()
            if (
                l.getClass().getSimpleName() == "AttributeReference"
                and r.getClass().getSimpleName() == "AttributeReference"
            ):
                pairs.append((l.exprId().id(), r.exprId().id(), l.name(), r.name()))
                continue
        cs = e.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))
    return pairs


def uncapped_posting_self_joins(df):
    """Return [(key_name, join_head)] for every join in ``df``'s
    analyzed plan whose equi-key is a Generate (explode) output on BOTH
    sides with no Aggregate/Limit/Window bound in between — the
    uncapped posting-self-join shape (quadratic per hot key). The
    df-capped feed passes (its Window count bounds the taint); exact-
    by-contract queries carry an explicit waiver in
    tests/test_registry_lint.py."""
    analyzed = df._jdf.queryExecution().analyzed()
    # cheap prefilter: the taint walk is a py4j-heavy recursion, and
    # most plans contain no Generate at all — one toString() decides
    # whether the walk can possibly find anything
    head = analyzed.toString()
    if "Generate" not in head or "Join" not in head:
        return []
    out = []
    stack = [analyzed]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Join" and node.condition().isDefined():
            kids = list(_children(node))
            if len(kids) == 2:
                lt = _generator_taint(kids[0])
                rt = _generator_taint(kids[1])
                if lt and rt:
                    for lid, rid, lname, rname in _equi_pairs(node.condition().get()):
                        if (lid in lt and rid in rt) or (lid in rt and rid in lt):
                            head = node.toString().split("\n", 1)[0]
                            out.append((f"{lname}={rname}", head[:120]))
        stack.extend(_children(node))
    return out


# --------------------------------------------------------------------------
# Corpus-sized global-window detector (VERDICT r11 task #5)
# --------------------------------------------------------------------------
#
# The hazard: row_number()/ntile()/cumulative-sum OVER (ORDER BY ...)
# with no PARTITION BY plans as ONE task holding every row that reaches
# it. Over a dim-bounded frame (an Aggregate of distinct scores, an
# n_partitions-row offset table) that is fine — and is exactly how the
# distinct-score reduction and global_ordinals use it. Over a frame
# whose lineage reaches an SF-scaled scan un-bounded, it is the
# single-task sort global_ordinals/global_ntile exist to replace.


def unbounded_global_windows(df):
    """Return [(table, window_head)] for every Window node in ``df``'s
    analyzed plan with an EMPTY partitionSpec and a non-empty orderSpec
    whose child lineage reaches an SF-scaled parquet scan with no
    Aggregate/Limit/Deduplicate in between."""
    analyzed = df._jdf.queryExecution().analyzed()
    if "Window" not in analyzed.toString():
        return []
    out = []
    stack = [analyzed]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
            and not node.orderSpec().isEmpty()
        ):
            hit = _fact_scan_below(node)
            if hit is not None:
                head = node.toString().split("\n", 1)[0]
                out.append((hit, head[:120]))
        stack.extend(_children(node))
    return out


# --------------------------------------------------------------------------
# Split exact-percentile detector
# --------------------------------------------------------------------------
#
# The waste: every exact ``percentile`` aggregate builds its own boxed
# value->count map of its input, serializes it through the shuffle and
# sorts it. Two of them over the same input in one Aggregate (q1 and
# q3 as two calls) do that twice; one array-percentage call
# ``q = F.percentile(c, F.lit([p1, p2]))`` reads every percentage off
# the same sorted map, bit-identically. ``percentile_approx`` is a
# different function (ApproximatePercentile) and is not counted.


def _percentile_aggs(expr):
    """Every AggregateExpression over an exact Percentile in ``expr``."""
    out = []
    stack = [expr]
    while stack:
        e = stack.pop()
        if (
            e.getClass().getSimpleName() == "AggregateExpression"
            and e.aggregateFunction().getClass().getSimpleName() == "Percentile"
        ):
            out.append(e)
            continue
        cs = e.children()
        for i in range(cs.size()):
            stack.append(cs.apply(i))
    return out


def split_percentiles(df):
    """Return [(input_sql, n)] for every Aggregate in ``df``'s
    optimized plan holding ``n`` >= 2 distinct exact ``percentile``
    functions over the same canonicalized input and frequency (same
    filter, distinctness and direction): percentages one array call
    would compute from one sorted count map."""
    optimized = df._jdf.queryExecution().optimizedPlan()
    # cheap prefilter: "percentile_approx(" does not contain it
    if "percentile(" not in optimized.toString():
        return []
    out = []
    stack = [optimized]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Aggregate":
            groups: dict = {}
            aggs = node.aggregateExpressions()
            for i in range(aggs.size()):
                for ae in _percentile_aggs(aggs.apply(i)):
                    fn = ae.aggregateFunction()
                    # canonical strings keep exprIds: one Aggregate's
                    # inputs share them, and names are blanked
                    key = (
                        fn.child().canonicalized().toString(),
                        fn.frequencyExpression().canonicalized().toString(),
                        ae.filter().toString(),
                        ae.isDistinct(),
                        fn.reverse(),
                    )
                    fns = groups.setdefault(key, (fn.child().sql(), set()))[1]
                    fns.add(fn.canonicalized().toString())
            out += [(sql, len(fns)) for sql, fns in groups.values() if len(fns) > 1]
        stack.extend(_children(node))
    return out
