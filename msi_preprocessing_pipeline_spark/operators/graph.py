"""Iterative graph analytics: integer-arithmetic PageRank.

Complements ``dedup``'s connected components (pointer jumping) with a
rank-propagation operator.  The twist that makes it testable across
engines: the recurrence runs ENTIRELY in int64 —

    rank_0(v)   = scale
    contrib(e)  = rank_i(src) div out_deg(src)          (integer div)
    rank_i+1(v) = (scale·(den-num)) div den
                  + (num · Σ contrib(in-edges)) div den

With ``num/den = 85/100`` this is standard damped PageRank quantized
to 1/scale units; because every step is exact integer arithmetic the
result is bit-identical across engines, partitionings, and summation
orders — a floating-point PageRank would differ in ulps per partition
plan and be unpinnable.  Precision loss vs the real-valued recurrence
is < 1 ulp-of-scale per node per iteration (floor divisions), i.e.
~iters/scale relative — at the default scale of 10^12, irrelevant.

Dangling nodes (no out-edges) keep receiving the base term but their
mass is NOT redistributed — the standard simplification; append
self-loops or reversed edges if you need mass conservation.

Scale notes: out-degrees join the edge relation once, up front, and
the (edges ⋈ degrees) relation is persisted across iterations; each
iteration is one hash aggregation on dst (map-side combined) plus one
|nodes|-relation left join — both shuffle on the SAME key so AQE
reuses partitioning; ``localCheckpoint`` per iteration truncates the
growing lineage (the connected-components lesson: un-truncated
iterative plans hang Catalyst analysis long before they hang
execution).  Overflow bound (documented, caller-checked): the total
mass never exceeds ``n_nodes·scale``, so ``num · n_nodes · scale``
must stay below 2^63 — at the default 10^12 scale that allows ~10^5
nodes; pass ``scale=10**9`` for 10^8-node graphs, ``10**6`` for
10^11.

Reference parity: the reference's EM loop re-estimates component
weights from the previous iteration's responsibilities until a fixed
iteration budget (``components/stats/gmm.py``) — the same
fixed-budget iterative refinement over a join-shaped dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, src_col: str, dst_col: str,
             iters: int = 5, scale: int = 10**12,
             damp_num: int = 85, damp_den: int = 100,
             checkpoint_every: int = 5,
             assume_distinct: bool = False) -> DataFrame:
    """``(node, rank)`` after ``iters`` integer-damped-PageRank rounds
    over the DIRECTED edge list (duplicate edges count once; union the
    reversed edges first for undirected semantics).  ``rank`` is in
    1/``scale`` units of probability mass.  Null endpoints are
    dropped (they name no node).

    ``checkpoint_every``: iterations per ``localCheckpoint``.  Each
    checkpoint is an EAGER job boundary — per-iteration checkpointing
    turns a 4-round run into 4 scheduled jobs of mostly fixed overhead,
    while an unbounded lazy chain grows the Catalyst plan until
    analysis stalls (the connected-components lesson).  The default
    lets short runs execute as ONE job (each rank level is referenced
    exactly once per round, so the lazy chain does no duplicate work)
    and bounds plan depth for long ones; the final round is always
    checkpointed so the returned relation is materialized and the
    caches this function holds can be released.

    ``assume_distinct=True`` skips the defensive edge ``distinct()``
    (one full shuffle of the edge list) when the caller proves the
    edge relation is already duplicate-free — e.g. built from a
    distinct key-pair projection.  Duplicate edges WOULD change
    degrees and contributions, so only set it when that invariant
    truly holds.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}")
    if not 0 < damp_num < damp_den:
        raise ValueError(
            f"need 0 < damp_num < damp_den, got {damp_num}/{damp_den}")
    if scale < damp_den:
        raise ValueError(f"scale must be >= {damp_den}, got {scale}")
    e = (edges.where(F.col(src_col).isNotNull()
                     & F.col(dst_col).isNotNull())
         .select(F.col(src_col).alias("__s"),
                 F.col(dst_col).alias("__d")))
    if not assume_distinct:
        e = e.distinct()
    nodes = (e.select(F.col("__s").alias("node"))
             .union(e.select("__d")).distinct().persist())
    deg = e.groupBy("__s").agg(F.count("*").alias("__dg"))
    ed = e.join(deg, ["__s"]).persist()
    base = (scale * (damp_den - damp_num)) // damp_den
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for i in range(iters):
        contrib = (ed.join(ranks, ed["__s"] == ranks["node"])
                   .select(F.col("__d"),
                           F.expr("rank div __dg").alias("__c")))
        sums = contrib.groupBy("__d").agg(F.sum("__c").alias("__in"))
        ranks = (nodes.join(sums, nodes["node"] == sums["__d"], "left")
                 .select("node",
                         (F.lit(base)
                          + F.expr(f"({damp_num} * coalesce(__in, 0L))"
                                   f" div {damp_den}")).alias("rank")))
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            ranks = ranks.localCheckpoint()
    ed.unpersist()
    nodes.unpersist()
    return ranks


def triangles(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Exact triangle census of the UNDIRECTED graph given as an edge
    list (direction, duplicates and self-loops ignored): one row
    ``(n_nodes, n_edges, n_triangles)``.

    Algorithm: degree orientation (Chiba–Nishizeki / the standard
    MapReduce formulation): orient every edge from its lower-degree
    endpoint to the higher (ties by node id), enumerate wedges as
    pairs of out-neighbours, and close each wedge against the oriented
    edge set with one more equi-join.  The orientation is the scale story — it bounds
    every node's out-degree by O(√m), so the wedge self-join fans out
    to O(m^1.5) total candidates instead of the naive Σ deg² (a single
    celebrity node with 10^7 neighbours contributes ZERO wedges from
    itself — its edges point INTO it).  Each triangle is counted
    exactly once (its wedge pivot is the orientation-smallest vertex).

    Scale notes: two shuffles on node keys (degree attach, wedge
    self-join) + one on the wedge pair for the closing check — all
    equi-joins, no windows, no driver state.  Comparisons use
    ``(degree, id)`` pairs as expressions, so node ids may be any
    orderable type.
    """
    e, deg = _undirected(edges, src_col, dst_col)
    oriented = _orient(e, deg).persist()
    # INNER join, not semi: wedges project the pivot away, so two pivots
    # sharing the same closing edge are two distinct triangles that must
    # both count (closing edges are distinct rows — no over-count)
    n_tri = (_closed_wedges(oriented)
             .agg(F.count("*").alias("n_triangles")))
    totals = (deg.agg(F.count("*").alias("n_nodes"))
              .crossJoin(e.agg(F.count("*").alias("n_edges"))))
    # 1-row localCheckpoint materializes the census so the cache this
    # function holds can be released before returning
    out = totals.crossJoin(n_tri).localCheckpoint()
    oriented.unpersist()
    return out


def _undirected(edges: DataFrame, src_col: str, dst_col: str):
    """Canonical undirected edge set (min, max), deduped, no loops or
    nulls — plus per-node degrees over it.  Both relations are
    materialized: the triangle/coefficient consumers reference ``e``
    (orient + edge totals) and ``deg`` (both orient sides + node
    totals) several times each, and the lazy forms re-ran the caller's
    edge construction and the degree aggregation per reference."""
    e = (edges.where(F.col(src_col).isNotNull()
                     & F.col(dst_col).isNotNull())
         .select(F.least(src_col, dst_col).alias("__a"),
                 F.greatest(src_col, dst_col).alias("__b"))
         .where(F.col("__a") != F.col("__b"))
         .distinct().localCheckpoint())
    deg = (e.select(F.col("__a").alias("node"))
           .union(e.select("__b"))
           .groupBy("node").agg(F.count("*").alias("__dg"))
           .localCheckpoint())
    return e, deg


def _orient(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree orientation: each edge as (__u, __v, __dgv) pointing from
    its (degree, id)-smaller endpoint to the larger."""
    da = deg.select(F.col("node").alias("__a"), F.col("__dg").alias("__dga"))
    db = deg.select(F.col("node").alias("__b"), F.col("__dg").alias("__dgb"))
    ed = e.join(da, ["__a"]).join(db, ["__b"])
    a_first = ((F.col("__dga") < F.col("__dgb"))
               | ((F.col("__dga") == F.col("__dgb"))
                  & (F.col("__a") < F.col("__b"))))
    return ed.select(
        F.when(a_first, F.col("__a")).otherwise(F.col("__b")).alias("__u"),
        F.when(a_first, F.col("__b")).otherwise(F.col("__a")).alias("__v"),
        F.when(a_first, F.col("__dgb")).otherwise(F.col("__dga"))
        .alias("__dgv"))


def _closed_wedges(oriented: DataFrame) -> DataFrame:
    """One row per triangle: ``(__p, __u, __v)`` = (wedge pivot, the
    closing edge's endpoints) — each triangle appears exactly once,
    pivoted at its orientation-smallest vertex."""
    o1 = oriented.select(F.col("__u").alias("__p"),
                         F.col("__v").alias("__x"),
                         F.col("__dgv").alias("__dgx"))
    o2 = oriented.select(F.col("__u").alias("__p"),
                         F.col("__v").alias("__y"),
                         F.col("__dgv").alias("__dgy"))
    x_first = ((F.col("__dgx") < F.col("__dgy"))
               | ((F.col("__dgx") == F.col("__dgy"))
                  & (F.col("__x") < F.col("__y"))))
    wedges = (o1.join(o2, ["__p"])
              .where((F.col("__x") != F.col("__y")) & x_first)
              .select("__p", F.col("__x").alias("__u"),
                      F.col("__y").alias("__v")))
    return wedges.join(oriented.select("__u", "__v"), ["__u", "__v"])


def clustering_coeff(edges: DataFrame, src_col: str,
                     dst_col: str) -> DataFrame:
    """Per-node local clustering coefficient of the undirected graph:
    ``(node, degree, n_tri, coeff)`` with ``coeff = 2·n_tri /
    (degree·(degree−1))`` — how close each node's neighbourhood is to
    a clique, the classic graph feature for community-ness / spam
    rings.  ``coeff`` is null for degree-1 nodes (undefined);
    isolated nodes don't appear (no edges).  Exact: ``n_tri`` counts
    triangles through the node via the same degree-oriented
    O(m^1.5) wedge closure as :func:`triangles`; the final ratio is
    one IEEE division of exact ints (engine-reproducible).

    Scale notes: the triangle relation (one row per triangle) is
    exploded ×3 and aggregated map-side — output and intermediate are
    |nodes| + 3·|triangles| rows; the degree join keys on node, never
    null.
    """
    e, deg = _undirected(edges, src_col, dst_col)
    oriented = _orient(e, deg).persist()
    tri_nodes = (_closed_wedges(oriented)
                 .select(F.explode(F.array("__p", "__u", "__v"))
                         .alias("node"))
                 .groupBy("node").agg(F.count("*").alias("n_tri")))
    out = (deg.join(tri_nodes, ["node"], "left")
           .select(F.col("node"), F.col("__dg").alias("degree"),
                   F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
                   F.when(F.col("__dg") >= 2,
                          (F.coalesce("n_tri", F.lit(0)) * 2)
                          .cast("double")
                          / (F.col("__dg") * (F.col("__dg") - 1))
                          .cast("double"))
                   .alias("coeff"))).localCheckpoint()
    oriented.unpersist()
    return out


def kcore(edges: DataFrame, src_col: str, dst_col: str, k: int,
          max_iter: int = 60) -> DataFrame:
    """The k-core of the undirected graph (direction/duplicates/loops
    ignored): the maximal subgraph in which every node has degree
    ``>= k``, computed by iterative peeling — repeatedly drop
    below-``k`` nodes until stable.  Output: ``(node, core_degree)``
    for every surviving node, ``core_degree`` its degree WITHIN the
    core; empty when no k-core exists.  Deterministic (the k-core is
    unique — peeling order never matters).

    Scale notes: each round is one degree aggregation plus two
    semi-joins (all map-side-combinable equi-joins on node keys) and
    ends in an eager ``localCheckpoint`` — the connected-components
    lesson: un-truncated iterative lineage hangs Catalyst analysis
    long before execution.  Round count is the peeling depth: small
    for real skewed graphs (cores collapse fast), but adversarial
    chains peel O(n) ends per round — ``max_iter`` RAISES rather than
    returning a silently-unpeeled graph.  One driver-side
    ``limit(1).count()`` probe per round (cheap short-circuit), no
    row-proportional collects.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e, _ = _undirected(edges, src_col, dst_col)
    cur = e  # _undirected already materialized it
    for _ in range(max_iter):
        # one degree aggregation per round: the convergence probe AND
        # the keep-set semi-joins both read it (materialized — the lazy
        # form re-ran the aggregation for each)
        deg = (cur.select(F.col("__a").alias("node"))
               .union(cur.select("__b"))
               .groupBy("node").agg(F.count("*").alias("__dg"))
               .localCheckpoint())
        if deg.where(F.col("__dg") < k).limit(1).count() == 0:
            return deg.select("node",
                              F.col("__dg").alias("core_degree"))
        keep = deg.where(F.col("__dg") >= k).select("node")
        cur = (cur
               .join(keep.withColumnRenamed("node", "__a"),
                     ["__a"], "leftsemi")
               .join(keep.withColumnRenamed("node", "__b"),
                     ["__b"], "leftsemi")).localCheckpoint()
    raise RuntimeError(
        f"kcore did not converge within max_iter={max_iter} peeling "
        f"rounds — adversarially chain-shaped graph; raise max_iter")


def label_prop(edges: DataFrame, src_col: str, dst_col: str,
               iters: int = 3, checkpoint_every: int = 2) -> DataFrame:
    """Community detection by DETERMINISTIC synchronous label
    propagation (Raghavan et al. 2007, made reproducible): every node
    starts labeled with its own id; each round it adopts the label
    held by the MOST of its neighbors, ties broken by the SMALLEST
    label.  Classic LPA breaks ties randomly and updates
    asynchronously in visit order — neither survives a distributed
    re-run, so this variant pins both choices (the same
    determinism-over-folklore trade as integer :func:`pagerank`); the
    cost is possible label oscillation on bipartite structures, which
    the fixed ``iters`` budget bounds by construction.

    Node ids must be numeric (the min-tie-break rides a
    ``max(struct(count, −label))`` aggregate — no per-node window, so
    a celebrity node costs one map-side-combined aggregation, not a
    single-reducer sort).  Self-loops and null endpoints are dropped;
    the edge list is symmetrized + deduplicated internally.

    Returns ``(node, label)`` — nodes sharing a label after ``iters``
    rounds are one community.

    Scale shape per iteration: one hash join (labels ⋈ edges, both
    keyed on the node — AQE reuses the exchange) + two
    map-side-combined aggregations on (node, label) / node; group
    state is one counter, skew-immune.  ``localCheckpoint`` every
    ``checkpoint_every`` rounds truncates the iterative lineage (the
    pagerank/kcore lesson).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = (edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b"))))
    und = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
           .distinct().persist())
    labels = (und.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for i in range(iters):
        nb = (und.join(labels.withColumnRenamed("node", "a"), ["a"])
              .select(F.col("b").alias("node"), "label"))
        cnt = nb.groupBy("node", "label").agg(F.count("*").alias("__c"))
        best = cnt.groupBy("node").agg(
            F.max(F.struct(F.col("__c"),
                           (-F.col("label")).alias("__nl"))).alias("__m"))
        labels = best.select("node", (-F.col("__m.__nl")).alias("label"))
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            labels = labels.localCheckpoint()
    out = labels
    und.unpersist()
    return out


def bfs_hops(edges: DataFrame, src_col: str, dst_col: str,
             seeds: DataFrame, seed_col: str | None = None,
             max_hops: int = 6) -> DataFrame:
    """Multi-source BFS over the undirected graph: the exact hop distance
    from the nearest seed for every node within ``max_hops`` — the graph
    family's reachability leg (PageRank ranks, k-core prunes, label_prop
    clusters; this MEASURES distance, e.g. "how far is every supplier from
    a trusted seed set", the contamination-radius / influence-horizon
    shape).

    Returns ``(node, hops)`` — seeds at 0 (isolated seeds included),
    unreachable-within-``max_hops`` nodes absent.  Deterministic: the
    min-hop function of a graph is unique, integer, and
    partition-order free; no floats anywhere.

    Per round: one frontier ⋈ adjacency equi-join + one distinct + one
    anti-join against the visited relation — all map-side-combinable
    key shuffles, no row-proportional driver state.  Each round's new
    frontier is materialized ONCE with an eager ``localCheckpoint``;
    the emptiness probe and the running union both read the
    checkpointed rows, so nothing recomputes and iterative lineage
    never deepens (``dist`` is a union of checkpointed frames).  At
    10^12 edges each round's cost is the true frontier size — BFS's
    native complexity — and ``max_hops`` bounds the plan depth a
    priori.

    Every edge is walked both ways; duplicates, loops and null endpoints
    are dropped.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    scol = seed_col or seeds.columns[0]
    node_t = edges.schema[src_col].dataType.simpleString()

    e = (edges.where(F.col(src_col).isNotNull()
                     & F.col(dst_col).isNotNull())
         .select(F.col(src_col).cast(node_t).alias("__u"),
                 F.col(dst_col).cast(node_t).alias("__v"))
         .where(F.col("__u") != F.col("__v")))
    adj = e.union(
        e.select(F.col("__v").alias("__u"), F.col("__u").alias("__v")))
    # materialize the adjacency once: every BFS round joins against it,
    # and a lazy adj re-runs the caller's edge construction (here often
    # itself a join) + the distinct per round
    adj = adj.distinct().localCheckpoint()

    dist = (seeds.where(F.col(scol).isNotNull())
            .select(F.col(scol).cast(node_t).alias("node"))
            .distinct()
            .withColumn("hops", F.lit(0)).localCheckpoint())
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        # materialize the frontier ONCE (eager localCheckpoint), then
        # both the emptiness probe and the union read the checkpointed
        # rows — a lazy frontier would recompute the join per consumer
        # (measured 3x the per-round cost on small graphs); `dist` needs
        # no checkpoint of its own: it is a union of checkpointed frames
        new = (frontier.join(adj, frontier["node"] == adj["__u"])
               .select(F.col("__v").alias("node")).distinct()
               .join(dist.select("node"), ["node"], "left_anti")
               .withColumn("hops", F.lit(h))).localCheckpoint()
        if not new.take(1):
            break
        dist = dist.unionByName(new)
        frontier = new.select("node")
    return dist
