"""Graph statistics over DataFrame edge lists.

Companions to operators/canonicalize.py (connected components) for the
KG-analytics surface: triangle counting here, degree stats in the
driver contract. The reference has no analytics layer (its graph ends
at the BatchInserter); these operators serve the downstream QA that a
KG construction pipeline needs (clustering coefficients, community
seeds, link-error smells such as triangle-free hub nodes).

Triangle counting uses the degree-orientation formulation (the
standard MapReduce/Spark shape, cf. Suri & Vassilvitskii, "Counting
Triangles and the Curse of the Last Reducer", WWW'11): orient every
undirected edge from its lower-(degree, id) endpoint to the higher
one, generate wedges only at each edge's LOW endpoint, and close them
against the oriented edge set. A node of degree d generates
O(min(d, √m)²) wedges instead of O(d²) — the hub node that would melt
a naive formulation generates almost none, because nearly all its
edges point INTO it.

The iterative family — ``pagerank``, ``pagerank_weighted``,
``bfs_distances``, ``kcore``, ``label_propagation`` and
``louvain_refine`` — shares one small-data dispatch, ``_dispatch``.
Each operator builds the deduplicated, self-loop-free edge set it
always computed (plus its per-node side input — bfs sources, louvain's
assignment — as tagged rows) and collects it in ONE bounded job:
``limit(bound + 1)`` as Arrow, bound =
``canonicalize.DRIVER_GRAPH_THRESHOLD`` (500k rows, the bound
connected_components' driver union-find already uses). At or under
the bound a numpy twin replays the operator's fixed-point integer
recurrence on the driver — truncating ``div``, ties to the smallest
label or community, kcore's convergence rule — and returns one
Arrow-built partition with the distributed loop's schema. Over the
bound the distributed DataFrame loop runs unchanged. A graph that fits
one machine is solved faster by one thread than by a cluster's
scheduler (McSherry et al., "Scalability! But at what COST?",
HotOS'15): the loops pay one or more Spark jobs per iteration, the
twins pay one collect. Both paths are pinned equal on seeded random
graphs (tests/test_graph_driver_path.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from batch_import_spark.operators import canonicalize


def undirected_edges(df: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical undirected simple edge set: (u < v), self-loops
    dropped, duplicates collapsed."""
    u = F.least(F.col(src), F.col(dst)).alias("u")
    v = F.greatest(F.col(src), F.col(dst)).alias("v")
    return df.select(u, v).where(F.col("u") != F.col("v")).distinct()


def triangle_counts(
    df: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts: (node, n_triangles),
    nodes in at least one triangle.

    Plan: degrees (map-side combinable groupBy) → broadcast-joined
    orientation (the degree table has one SMALL row per node — still
    a shuffle join at web scale, on an evenly-hashed key) → one
    self-join to build wedges at low endpoints → one equi-join to
    close them. Every join key is (node, node) pairs or single node
    ids — no key is hotter than the max ORIENTED out-degree, which
    orientation bounds by ~√(2m).
    """
    e = undirected_edges(df, src, dst)
    deg = (
        e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient: a → b iff (deg(a), a) < (deg(b), b); total order, so the
    # oriented graph is acyclic and every triangle is counted exactly
    # once as wedge (a→b, a→c) + closing edge (b→c) with b before c
    with_deg = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    hi_ord = F.when(
        lo_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    ).otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
    oriented = with_deg.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        hi_ord.alias("_ord_b"),
    )
    # wedges at the low endpoint; order the two outs by the SAME total
    # order used for orientation so the closing edge (b→c) exists in
    # the oriented set iff the wedge is a triangle
    o1 = oriented.select("a", F.col("b").alias("w1"), F.col("_ord_b").alias("o1"))
    o2 = oriented.select(F.col("a").alias("a2"), F.col("b").alias("w2"), F.col("_ord_b").alias("o2"))
    wedges = (
        o1.join(o2, (o1.a == o2.a2) & (F.col("o1") < F.col("o2")))
        .select("a", F.col("w1").alias("b"), F.col("w2").alias("c"))
    )
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _checkpoint_rotate(spark, df: DataFrame, prev_ids: set) -> tuple[DataFrame, set]:
    """localCheckpoint ``df`` eagerly and unpersist the blocks of the
    previous iteration's checkpoint (same discipline as
    canonicalize.connected_components — iterative loops otherwise
    accumulate MEMORY_AND_DISK blocks for the whole run)."""
    before = _persistent_ids(spark)
    out = df.localCheckpoint(eager=True)
    new_ids = _persistent_ids(spark) - before
    _unpersist_ids(spark, prev_ids)
    return out, new_ids


def _unpersist_ids(spark, ids: set) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)


# --- driver path: one bounded collect, numpy twins ------------------------

# node/community types whose driver-side equality and order are Spark's:
# integers compare numerically, UTF8_BINARY strings by code point (=
# UTF-8 byte order); anything else runs the distributed loop
_DRIVER_KEY_TYPES = (
    T.StringType(), T.LongType(), T.IntegerType(), T.ShortType(), T.ByteType()
)
# a twin step whose float64 magnitude estimate reaches 2**62 may leave
# int64; the twin then defers to the loop, whose Spark arithmetic
# raises (ANSI) or wraps exactly as Spark defines
_INT64_SAFE = float(2**62)


def _dispatch(collect_df: DataFrame, key_types, driver, distributed) -> DataFrame:
    """The iterative family's one small-data rule.

    ``collect_df`` is collected in ONE bounded job (at most bound + 1
    rows, as Arrow). At or under the bound ``driver(table)`` returns
    the result, or None where the twin cannot reproduce Spark's
    outcome (int64 overflow, division by zero, repeated assignment
    rows); over the bound, for key types outside _DRIVER_KEY_TYPES, or
    on None, ``distributed()`` runs the DataFrame loop."""
    if all(t in _DRIVER_KEY_TYPES for t in key_types):
        bound = canonicalize.DRIVER_GRAPH_THRESHOLD
        table = collect_df.limit(bound + 1).toArrow()
        if table.num_rows <= bound:
            out = driver(table)
            if out is not None:
                return out
    return distributed()


def _col(table, name: str) -> np.ndarray:
    return table.column(name).to_numpy(zero_copy_only=False)


def _rows(table, kind: int):
    """The rows of one input of a tagged collect (``k`` column)."""
    return table.filter(pc.equal(table.column("k"), kind))


def _factorize(*cols: np.ndarray) -> tuple[np.ndarray, list[np.ndarray]]:
    """Dense int64 codes over the values of ``cols`` (one shared
    dictionary), ordered like the values, so smallest code = smallest
    id in Spark's order for _DRIVER_KEY_TYPES."""
    codes, uniq = pd.factorize(np.concatenate(cols), sort=True)
    return uniq, np.split(codes.astype(np.int64), np.cumsum([len(c) for c in cols[:-1]]))


def _degrees(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    return np.bincount(u, minlength=n) + np.bincount(v, minlength=n)


def _best(group: np.ndarray, score: np.ndarray, label: np.ndarray):
    """Per ``group`` value, the ``label`` of maximal ``score``, ties to
    the smallest label (the loops' row_number / min(struct) order)."""
    order = np.lexsort((label, -score, group))
    g, lab = group[order], label[order]
    first = np.ones(len(g), bool)
    first[1:] = g[1:] != g[:-1]
    return g[first], lab[first]


def _frame(spark, schema: T.StructType, *cols) -> DataFrame:
    """A twin's result: one partition (one output file) with the
    loop's schema, built from pandas through Arrow in the JVM — a
    list-of-tuples frame is unpickled by Python workers on every read."""
    pdf = pd.DataFrame({f.name: c for f, c in zip(schema.fields, cols)})
    return spark.createDataFrame(pdf, schema).coalesce(1)


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, t, True) for name, t in fields])


def _union_type(a: DataFrame, b: DataFrame) -> T.DataType:
    """The type ``unionAll`` of two one-column frames resolves to
    (analysis only, no job) — the loops' node columns are such unions."""
    return a.unionAll(b).schema[0].dataType


def _tdiv(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Spark's ``div``: integer division truncating toward zero."""
    q = a // b
    return q + ((q < 0) & (q * b != a))


def _directed_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        df.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col(src) != F.col(dst))
        .distinct()
    )


def _endpoint_type(e: DataFrame) -> T.DataType:
    return _union_type(e.select(F.col("src").alias("node")), e.select(F.col("dst").alias("node")))


def pagerank(
    df: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 6,
    scale: int = 10**12,
    reset_nodes: list | None = None,
) -> DataFrame:
    """Integer-exact PageRank over a directed simple edge list.

    Returns (node, pagerank_scaled) where ``pagerank_scaled`` is the
    rank carried in fixed-point BIGINT units of 1/``scale``:

        rank0(v)   = scale div N
        rank_i(v)  = (15*scale) div (100*N)
                     + Σ_{u→v} (85 * rank_{i-1}(u)) div (100 * outdeg(u))

    Every step is non-negative BIGINT arithmetic with truncating
    division — bit-identical in any engine (the DuckDB oracle unrolls
    the same recurrence), no float accumulation order to diverge.
    Dangling-node mass is dropped (the classic simplification); both
    engines drop it identically.

    With ``reset_nodes`` (PERSONALIZED PageRank), the teleport mass
    goes only to that set R — N above becomes |R| and the base/init
    terms are zero off R. Ranks then measure proximity to R: the
    standard KG entity-relatedness / expansion scorer.

    Scale shape: edge sets of at most DRIVER_GRAPH_THRESHOLD rows are
    collected in one job and iterated on the driver in numpy (module
    docstring). Larger ones run the distributed loop: outdeg is a
    map-side-combinable groupBy; the edge table is joined to outdeg
    ONCE and checkpointed; each iteration is one equi-join of the
    (node, rank) table to that edge table plus one groupBy(dst) — the
    standard Pregel-on-DataFrame shape, two shuffles per iteration on
    evenly-hashed node ids. The rank table is one row per node
    (asymptotically smaller than the edges); a fixed iteration count
    keeps the job DAG statically known.
    """
    e = _directed_edges(df, src, dst)
    node_type = _endpoint_type(e)
    return _dispatch(
        e,
        [node_type],
        lambda t: _pagerank_driver(
            df.sparkSession, t, node_type, iterations, scale, reset_nodes
        ),
        lambda: _pagerank_loop(e, iterations, scale, reset_nodes),
    )


def _pagerank_loop(e, iterations, scale, reset_nodes) -> DataFrame:
    spark = e.sparkSession
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes, node_ids = _checkpoint_rotate(spark, nodes, set())
    if reset_nodes is None:
        n = nodes.count()
        in_reset = F.lit(True)
    else:
        n = len(set(reset_nodes))
        in_reset = F.col("node").isin(list(set(reset_nodes)))
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed, ed_ids = _checkpoint_rotate(spark, e.join(outd, "src"), set())

    init = scale // n
    base = (15 * scale) // (100 * n)
    init_col = F.when(in_reset, F.lit(init)).otherwise(F.lit(0))
    base_col = F.when(in_reset, F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select("node", init_col.cast("long").alias("rank"))
    prev_ids: set = set()
    for _ in range(iterations):
        contribs = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("(85 * rank) div (100 * d)").alias("c"),
        )
        agg = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(agg, "node", "left").select(
            "node",
            (base_col + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("rank"),
        )
        ranks, prev_ids = _checkpoint_rotate(spark, ranks, prev_ids)
    # the final ranks checkpoint is materialized — the edge/node
    # checkpoints are no longer referenced by its lineage (with no
    # iteration the ranks are still a projection of the nodes)
    _unpersist_ids(spark, ed_ids | (node_ids if iterations > 0 else set()))
    return ranks.select("node", F.col("rank").alias("pagerank_scaled"))


def _pagerank_driver(
    spark, table, node_type, iterations, scale, reset_nodes, weighted=False
) -> DataFrame | None:
    """Both PageRanks' twin; the unweighted one is w = 1, tw = outdeg
    (``(85*rank*1) div (100*d)`` is the same BIGINT)."""
    uniq, (s, d) = _factorize(_col(table, "src"), _col(table, "dst"))
    n_nodes = len(uniq)
    if reset_nodes is None:
        n = n_nodes
        in_reset = np.ones(n_nodes, bool)
    else:
        n = len(set(reset_nodes))
        in_reset = pd.Series(uniq).isin(list(set(reset_nodes))).to_numpy()
    init = scale // n
    base = (15 * scale) // (100 * n)
    if max(abs(init), abs(base)) >= _INT64_SAFE:
        return None
    if weighted:
        # null weights contribute null (skipped by the sum) but keep
        # their edge's endpoints as nodes
        wcol = table.column("w")
        keep = pc.is_valid(wcol).to_numpy(zero_copy_only=False)
        s, d = s[keep], d[keep]
        w = pc.fill_null(wcol, 0).to_numpy(zero_copy_only=False)[keep].astype(np.int64)
    else:
        w = np.ones(len(s), np.int64)
    if np.bincount(s, np.abs(w.astype(float)), n_nodes).max(initial=0) * 100 >= _INT64_SAFE:
        return None
    tw = np.zeros(n_nodes, np.int64)  # out-weight: the outdeg when w = 1
    np.add.at(tw, s, w)
    den = 100 * tw[s]
    if iterations > 0 and (den == 0).any():
        return None
    rank = np.where(in_reset, init, 0).astype(np.int64)
    base_v = np.where(in_reset, base, 0).astype(np.int64)
    for _ in range(iterations):
        r = rank[s]
        if (85.0 * np.abs(r) * np.abs(w)).max(initial=0) >= _INT64_SAFE:
            return None
        c = _tdiv(85 * r * w, den)
        mass = np.bincount(d, np.abs(c.astype(float)), n_nodes) + np.abs(base_v)
        if mass.max(initial=0) >= _INT64_SAFE:
            return None
        acc = np.zeros(n_nodes, np.int64)
        np.add.at(acc, d, c)
        rank = base_v + acc
    schema = _schema(("node", node_type), ("pagerank_scaled", T.LongType()))
    return _frame(spark, schema, uniq, rank)


def bfs_distances(
    df: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    directed: bool = False,
) -> DataFrame:
    """Minimum hop distance from any node in ``sources`` (one column,
    ``node``) to every reachable node. Returns (node, dist int).
    Sources absent from the graph keep distance 0.

    Scale shape: the edge set and the sources are collected together
    in one job when they total at most DRIVER_GRAPH_THRESHOLD rows and
    walked on the driver (module docstring). Otherwise frontier BFS on
    DataFrames: each round joins ONLY the new frontier (nodes first
    reached last round) against the edge list, then anti-joins the
    visited set — work per round is proportional to the frontier's
    out-edges, not the graph, and the visited set grows
    monotonically. Two shuffles per round on node ids; terminates when
    the frontier empties (diameter rounds, not max_hops, in the common
    case). The visited set is checkpointed per round with the same
    block-rotation discipline as connected_components.
    """
    e0 = _directed_edges(df, src, dst)
    e = e0
    if not directed:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        e = e.distinct()
    s = sources.select(F.col("node").alias("s"))
    tagged = e0.select(F.lit(0).alias("k"), "src", "dst").unionByName(
        s.select(F.lit(1).alias("k"), "s"), allowMissingColumns=True
    )
    source_type = s.schema[0].dataType
    # the visited set starts as the sources and gains edge targets
    reached_type = _union_type(sources.select("node"), e.select(F.col("dst").alias("node")))
    return _dispatch(
        tagged,
        [_endpoint_type(e0), source_type],
        lambda t: _bfs_driver(
            df.sparkSession, t, directed, max_hops, source_type, reached_type
        ),
        lambda: _bfs_loop(e, sources, max_hops),
    )


def _bfs_loop(e, sources, max_hops) -> DataFrame:
    spark = e.sparkSession
    e, e_ids = _checkpoint_rotate(spark, e, set())

    visited = sources.select("node").distinct().select(
        "node", F.lit(0).cast("int").alias("dist")
    )
    visited, visited_ids = _checkpoint_rotate(spark, visited, set())
    # the initial frontier aliases the visited checkpoint: its blocks
    # are owned (and freed) through visited_ids, so frontier_ids is
    # empty until the first real frontier replaces it
    frontier, frontier_ids = visited, set()
    for hop in range(1, max_hops + 1):
        reached = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("dist"))
        )
        reached, r_ids = _checkpoint_rotate(spark, reached, set())
        if reached.limit(1).count() == 0:
            _unpersist_ids(spark, r_ids)
            break
        # new visited materializes from the old visited + reached
        # checkpoints; after that the old visited and the old frontier
        # (last round's reached) are unreferenced
        visited, visited_ids = _checkpoint_rotate(
            spark, visited.unionAll(reached), visited_ids | frontier_ids
        )
        frontier, frontier_ids = reached, r_ids
    _unpersist_ids(spark, e_ids | frontier_ids)
    return visited


def _bfs_driver(spark, table, directed, max_hops, source_type, reached_type) -> DataFrame:
    edges, srcs = _rows(table, 0), _rows(table, 1)
    scol = srcs.column("s")
    null_source = scol.null_count > 0  # kept at distance 0, joins nothing
    uniq, (a, b, s) = _factorize(
        _col(edges, "src"), _col(edges, "dst"), scol.drop_null().to_numpy(zero_copy_only=False)
    )
    if not directed:
        a, b = np.concatenate([a, b]), np.concatenate([b, a])
    dist = np.full(len(uniq), -1, np.int32)
    dist[s] = 0
    frontier = np.zeros(len(uniq), bool)
    frontier[s] = True
    for hop in range(1, max_hops + 1):
        nb = np.unique(b[frontier[a]])
        nb = nb[dist[nb] < 0]
        if not len(nb):
            break
        dist[nb] = hop
        frontier[:] = False
        frontier[nb] = True
    seen = np.flatnonzero(dist >= 0)
    nodes, dists = uniq[seen], dist[seen]
    if null_source:
        nodes, dists = np.append(nodes.astype(object), None), np.append(dists, np.int32(0))
    # no hop reached anything: the loop returns the sources' own column
    node_type = reached_type if (dists > 0).any() else source_type
    return _frame(spark, _schema(("node", node_type), ("dist", T.IntegerType())), nodes, dists)


def kcore(
    df: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Nodes of the k-core (the maximal subgraph where every node has
    degree ≥ k), by iterative peeling: drop nodes of degree < k,
    recompute, repeat to fixpoint. Returns (node, core_degree) —
    each survivor's degree inside the core.

    Scale shape: edge sets of at most DRIVER_GRAPH_THRESHOLD rows are
    collected in one job and peeled on the driver (module docstring),
    round for round like the loop. Larger ones run the distributed
    loop; per round: one doubled-edge degree count (map-side
    combinable) and one semi-join filter — two shuffles on node ids;
    the edge set only shrinks, so round cost is monotonically
    decreasing. The loop checkpoint-rotates like connected_components.
    Peeling converges in at most diameter-ish rounds on real graphs
    (the loop exits on the first round that removes nothing; a
    RuntimeError after ``max_iterations`` rounds that all removed
    something).
    """
    e = undirected_edges(df, src, dst)
    node_type = e.schema["u"].dataType
    return _dispatch(
        e,
        [node_type],
        lambda t: _kcore_driver(df.sparkSession, t, node_type, k, max_iterations),
        lambda: _kcore_loop(e, k, max_iterations),
    )


def _kcore_loop(e, k, max_iterations) -> DataFrame:
    # doubled edge list: degree(u) = row count with u first
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    spark = e.sparkSession
    cur, prev_ids = _checkpoint_rotate(spark, both, set())
    n_prev = cur.count()
    for _ in range(max_iterations):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        good = deg.where(F.col("d") >= k).select("u")
        nxt = cur.join(good, "u").join(
            good.select(F.col("u").alias("v")), "v"
        ).select("u", "v")
        nxt, prev_ids = _checkpoint_rotate(spark, nxt, prev_ids)
        n_now = nxt.count()
        cur = nxt
        if n_now == n_prev:
            break
        n_prev = n_now
    else:
        _unpersist_ids(spark, prev_ids)
        raise RuntimeError(f"kcore: no convergence in {max_iterations} rounds")
    out = cur.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )
    return out


def _kcore_driver(spark, table, node_type, k, max_iterations) -> DataFrame:
    uniq, (u, v) = _factorize(_col(table, "u"), _col(table, "v"))
    n = len(uniq)
    alive = np.ones(len(u), bool)
    n_prev = 2 * len(u)  # the loop counts the doubled edge list
    for _ in range(max_iterations):
        good = _degrees(u[alive], v[alive], n) >= k
        alive &= good[u] & good[v]
        n_now = 2 * int(alive.sum())
        if n_now == n_prev:
            break
        n_prev = n_now
    else:
        raise RuntimeError(f"kcore: no convergence in {max_iterations} rounds")
    deg = _degrees(u[alive], v[alive], n)
    core = np.flatnonzero(deg > 0)
    schema = _schema(("node", node_type), ("core_degree", T.LongType()))
    return _frame(spark, schema, uniq[core], deg[core].astype(np.int64))


def label_propagation(
    df: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection). Returns (node, community) after a FIXED number of
    rounds: every node simultaneously adopts its neighbors' most
    frequent label, ties broken by the smallest label id. Labels start
    as node ids.

    Classic async LPA is run-order-dependent; the synchronous variant
    with a total tie-break order is a pure function of the graph, so
    the DuckDB oracle replays it exactly in a recursive CTE. A fixed
    round count sidesteps sync-LPA's known 2-cycle oscillation (both
    engines stop at the same round regardless) and keeps the DAG
    static — the standard production compromise.

    Scale shape: edge sets of at most DRIVER_GRAPH_THRESHOLD rows are
    collected in one job and propagated on the driver (module
    docstring). Larger ones run the distributed loop; per round: one
    equi-join (labels → doubled edges) + one count groupBy + one
    rank-limited window (WindowGroupLimit cuts to the argmax below
    the exchange) — three shuffles on node ids, state one row per
    node. Checkpoint-rotated like the other iterative ops.
    """
    e = undirected_edges(df, src, dst)
    node_type = e.schema["u"].dataType
    return _dispatch(
        e,
        [node_type],
        lambda t: _label_propagation_driver(df.sparkSession, t, node_type, iterations),
        lambda: _label_propagation_loop(e, iterations),
    )


def _label_propagation_loop(e, iterations) -> DataFrame:
    spark = e.sparkSession
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    both, e_ids = _checkpoint_rotate(spark, both, set())
    labels = both.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels, prev_ids = _checkpoint_rotate(spark, labels, set())
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(iterations):
        counted = (
            both.join(labels, both["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
        )
        labels, prev_ids = _checkpoint_rotate(spark, labels, prev_ids)
    _unpersist_ids(spark, e_ids)
    return labels.select("node", F.col("label").alias("community"))


def _label_propagation_driver(spark, table, node_type, iterations) -> DataFrame:
    uniq, (u, v) = _factorize(_col(table, "u"), _col(table, "v"))
    n = len(uniq)  # ≤ 2·bound, so n² fits int64 for any bound below ~10⁹
    a, b = np.concatenate([u, v]), np.concatenate([v, u])
    label = np.arange(n, dtype=np.int64)  # codes are value-ordered: min code = min id
    for _ in range(iterations):
        key, cnt = np.unique(b * n + label[a], return_counts=True)
        node, best = _best(key // n, cnt, key % n)
        label[node] = best  # every node has a neighbor, so every node votes
    schema = _schema(("node", node_type), ("community", node_type))
    return _frame(spark, schema, uniq, uniq[label])


def pagerank_weighted(
    df: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 6,
    scale: int = 10**12,
) -> DataFrame:
    """Integer-exact PageRank with BIGINT edge weights (e.g. triple
    occurrence counts from the KG aggregate): a node's outgoing mass
    splits proportionally to weight,

        contrib(u→v) = (85 · rank(u) · w_uv) div (100 · W_u),

    W_u = Σ out-weights of u (column ``tw`` internally). Same fixed-point discipline and
    per-iteration shape as ``pagerank`` (one equi-join + one groupBy
    per round; the driver path under DRIVER_GRAPH_THRESHOLD edges);
    the oracle replays the identical recurrence. Arithmetic is int64
    under ANSI on both paths: a step that leaves int64 raises.
    """
    e = (
        df.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
        .where(F.col(src) != F.col(dst))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    node_type = _endpoint_type(e)
    return _dispatch(
        e,
        [node_type],
        lambda t: _pagerank_driver(
            df.sparkSession, t, node_type, iterations, scale, None, weighted=True
        ),
        lambda: _pagerank_weighted_loop(e, iterations, scale),
    )


def _pagerank_weighted_loop(e, iterations, scale) -> DataFrame:
    spark = e.sparkSession
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes, node_ids = _checkpoint_rotate(spark, nodes, set())
    n = nodes.count()
    # "tw" not "W": Spark resolves identifiers case-insensitively by
    # default, so w/W in one schema is AMBIGUOUS_REFERENCE
    outw = e.groupBy("src").agg(F.sum("w").alias("tw"))
    ed, ed_ids = _checkpoint_rotate(spark, e.join(outw, "src"), set())

    init = scale // n
    base = (15 * scale) // (100 * n)
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    prev_ids: set = set()
    for _ in range(iterations):
        contribs = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("(85 * rank * w) div (100 * tw)").alias("c"),
        )
        agg = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(agg, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("rank"),
        )
        ranks, prev_ids = _checkpoint_rotate(spark, ranks, prev_ids)
    _unpersist_ids(spark, ed_ids | (node_ids if iterations > 0 else set()))
    return ranks.select("node", F.col("rank").alias("pagerank_scaled"))


def modularity_scaled(
    edges: DataFrame,
    assign: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    community: str = "community",
) -> DataFrame:
    """Integer-exact modularity of a community assignment — makes a
    community output GRADEABLE, not just reproducible.

    Newman modularity over the undirected simple graph G(m edges):

        Q = Σ_c [ m_c/m − (K_c / 2m)² ]

    (m_c = intra-community edges, K_c = degree sum of c). Multiplying
    by 4m² clears every denominator:

        contrib_c = 4·m·m_c − K_c²      Q = Σ_c contrib_c / (4m²)

    so the per-community contributions — and their sum — are exact
    BIGINTs, bit-identical in any engine (same discipline as the
    integer PageRank). Returns (community, n_nodes, m_intra, deg_sum,
    contrib). ``contrib`` fits int64 for m ≲ 1.5·10⁹ edges; beyond
    that shard the graph or lift to DECIMAL(38,0).

    Scale shape: canonicalize + degree are map-side-combinable; the
    intra-edge count is two broadcast-or-shuffle hash joins of the
    edge list against the (node, community) map keyed on node ids; the
    single-row m aggregate broadcasts. No window over the full graph.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col(src) != F.col(dst))
        .distinct()
    )
    b2 = e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
    deg = b2.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    a = assign.select(F.col(node).alias("n"), F.col(community).alias("c"))
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    intra = (
        e.join(a.select(F.col("n").alias("u"), F.col("c").alias("cu")), "u")
        .join(a.select(F.col("n").alias("v"), F.col("c").alias("cv")), "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("m_intra"))
    )
    ks = (
        a.join(deg, "n")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("deg_sum"),
        )
    )
    return (
        ks.join(intra, "c", "left")
        .na.fill(0, ["m_intra"])
        .crossJoin(F.broadcast(m_df))
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            F.col("m_intra").cast("long").alias("m_intra"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            (
                4 * F.col("m") * F.col("m_intra")
                - F.col("deg_sum") * F.col("deg_sum")
            ).cast("long").alias("contrib"),
        )
    )


def louvain_refine(
    df: DataFrame,
    assign: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    community: str = "community",
    sweeps: int = 1,
    colors: int = 4,
) -> DataFrame:
    """One-level Louvain refinement (Blondel et al. 2008, phase-1
    local moves) of an existing community assignment — typically the
    ``label_propagation`` output — by synchronous greedy modularity-
    gain moves in exact scaled integers.

    Moving node u from its community a to a neighbor community b
    changes Newman modularity by

        ΔQ = (k_ub − k_ua′)/m − k_u·(K_b − K_a′) / (2m²)

    (k_uc = u's links into c, k_ua′ excluding u itself, K_c = degree
    sum, K_a′ = K_a − k_u). Multiplying by 2m² clears denominators:

        gain = 2·m·(k_ub − k_ua′) − k_u·(K_b − (K_a − k_u))

    an exact BIGINT, engine-reproducible. Each sweep runs ``colors``
    hash-colored sub-steps: only nodes with
    pmod(portable_hash60(node), colors) == sub-step may move, to the
    best strictly-positive gain (ties → smallest community id), and
    gains are recomputed between sub-steps. Fully-simultaneous moves
    oscillate (two nodes swap into each other's community, or a
    cohort overshoots into one community, measurably DECREASING Q on
    real graphs — observed on the planted KG); classic async Louvain
    is visit-order-dependent. Hash-colored sub-sweeps are the
    standard distributed-Louvain compromise (cf. Halappanavar et al.,
    "Scalable static and dynamic community detection using Grappolo"):
    deterministic, engine-replayable (the color hash is the portable
    md5-60bit), and near-sequential in behavior as ``colors`` grows.
    Grade the result with ``modularity_scaled`` (the pytest pins
    refined >= baseline on the planted KG).

    The result holds the assigned nodes that have edges; assignment
    rows of edgeless nodes or with a null node or community drop out
    at the first sub-step (with no sub-step the assignment is returned
    as given).

    Scale shape: when the edge set and the assignment total at most
    DRIVER_GRAPH_THRESHOLD rows they are collected in one job — the
    colour hash computed in it, by the same column expression — and
    the sub-steps run on the driver (module docstring). Otherwise per
    sweep: K_c and k_uc are map-side-combinable groupBys; candidate
    scoring is equi-joins on node/community ids with the single-row m
    broadcast. No window over the full graph, state one row per
    (node, adjacent community). `gain` fits int64 for m ≲ 1.5·10⁹
    edges (same bound as modularity_scaled); lift to DECIMAL(38,0)
    beyond.
    """
    from batch_import_spark.operators.sketches import portable_hash60

    a = assign.select(F.col(node).alias("n"), F.col(community).alias("c"))
    if sweeps < 1 or colors < 1:
        return a.select(F.col("n").alias(node), F.col("c").alias(community))
    e = undirected_edges(df, src, dst)
    # assignment rows with a null node or community join nothing
    rows = a.where(F.col("n").isNotNull() & F.col("c").isNotNull()).select(
        F.lit(1).alias("k"),
        "n",
        "c",
        F.pmod(portable_hash60(F.col("n")), F.lit(colors)).alias("colour"),
    )
    tagged = e.select(F.lit(0).alias("k"), "u", "v").unionByName(
        rows, allowMissingColumns=True
    )
    schema = _schema((node, a.schema["n"].dataType), (community, a.schema["c"].dataType))
    return _dispatch(
        tagged,
        [e.schema["u"].dataType] + [f.dataType for f in schema.fields],
        lambda t: _louvain_driver(df.sparkSession, t, schema, sweeps, colors),
        lambda: _louvain_loop(e, a, node, community, sweeps, colors),
    )


def _louvain_loop(e, a, node, community, sweeps, colors) -> DataFrame:
    from batch_import_spark.operators.sketches import portable_hash60

    spark = e.sparkSession
    # loop invariants, materialized once: the doubled edge list and the
    # degree table are referenced in every colored sub-step (deg twice
    # per sub-step: the community-total join and the mover join), and m
    # is a scalar — collected here and inlined as a literal instead of
    # a per-sub-step aggregate+broadcast (round 7; results unchanged,
    # the sub-step arithmetic is identical).
    before = _persistent_ids(spark)
    both = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    deg = (
        both.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    invariant_ids = _persistent_ids(spark) - before
    m_val = int(e.count())

    prev_ids: set = set()
    for _ in range(sweeps):
        for ci in range(colors):
            # tot and kuc are each read twice inside one sub-step
            # (current-community attributes + candidate scoring):
            # lazy checkpoints make the second reference a block read
            # instead of a re-aggregation.
            before = _persistent_ids(spark)
            tot = (
                a.join(deg, a["n"] == deg["u"])
                .groupBy("c")
                .agg(F.sum("d").cast("long").alias("tot"))
                .localCheckpoint(eager=False)
            )
            kuc = (
                both.join(
                    a.select(F.col("n").alias("v"), F.col("c").alias("vc")),
                    "v",
                )
                .groupBy("u", "vc")
                .agg(F.count(F.lit(1)).cast("long").alias("k"))
                .localCheckpoint(eager=False)
            )
            step_ids = _persistent_ids(spark) - before
            cur = (
                a.select(F.col("n").alias("u"), F.col("c").alias("cu"))
                .join(deg.select("u", F.col("d").alias("ku")), "u")
                .join(
                    tot.select(
                        F.col("c").alias("cu"), F.col("tot").alias("tot_cu")
                    ),
                    "cu",
                )
                .join(
                    kuc.select(
                        "u", F.col("vc").alias("cu"), F.col("k").alias("k_own")
                    ),
                    ["u", "cu"],
                    "left",
                )
                .na.fill(0, ["k_own"])
            )
            cand = (
                cur.where(
                    F.pmod(portable_hash60(F.col("u")), F.lit(colors)) == ci
                )
                .join(kuc, "u")
                .where(F.col("vc") != F.col("cu"))
                .join(tot.select(F.col("c").alias("vc"), "tot"), "vc")
                .select(
                    "u",
                    "vc",
                    F.expr(
                        f"2*{m_val}L*(k - k_own) - ku*(tot - (tot_cu - ku))"
                    ).alias("gain"),
                )
            )
            best = (
                cand.where(F.col("gain") > 0)
                .groupBy("u")
                .agg(
                    F.min(
                        F.struct((-F.col("gain")).alias("negg"), F.col("vc"))
                    ).alias("b")
                )
                .select("u", F.col("b.vc").alias("new_c"))
            )
            a = (
                cur.select("u", "cu")
                .join(best, "u", "left")
                .select(
                    F.col("u").alias("n"),
                    F.coalesce("new_c", "cu").alias("c"),
                )
            )
            a, prev_ids = _checkpoint_rotate(spark, a, prev_ids)
            # the new assignment is materialized: this sub-step's tot
            # and kuc blocks are unreferenced
            _unpersist_ids(spark, step_ids)
    _unpersist_ids(spark, invariant_ids)
    return a.select(F.col("n").alias(node), F.col("c").alias(community))


def _louvain_driver(spark, table, schema, sweeps, colors) -> DataFrame | None:
    edges, rows = _rows(table, 0), _rows(table, 1)
    an = _col(rows, "n")
    if pd.Series(an).duplicated().any():
        return None  # a node assigned twice: the loop's joins count it twice
    uniq, (u, v, an) = _factorize(_col(edges, "u"), _col(edges, "v"), an)
    cuniq, (ac,) = _factorize(_col(rows, "c"))  # value-ordered: min code = min id
    n, nc, m = len(uniq), len(cuniq), len(u)
    comm = np.full(n, -1, np.int64)  # -1: no assignment row
    comm[an] = ac
    colour = np.full(n, -1, np.int64)
    colour[an] = _col(rows, "colour")
    deg = _degrees(u, v, n).astype(np.int64)
    a, b = np.concatenate([u, v]), np.concatenate([v, u])
    for _ in range(sweeps):
        for ci in range(colors):
            # the loop's assignment after any sub-step: nodes with edges
            comm[deg == 0] = -1
            live = comm >= 0
            tot = np.zeros(nc, np.int64)
            np.add.at(tot, comm[live], deg[live])
            moving = live[a] & live[b] & (colour[a] == ci)
            key, k = np.unique(a[moving] * nc + comm[b[moving]], return_counts=True)
            un, vc = key // nc, key % nc
            own = vc == comm[un]
            k_own = np.zeros(n, np.int64)
            k_own[un[own]] = k[own]
            un, vc, k = un[~own], vc[~own], k[~own]
            ku = deg[un]
            gain = 2 * m * (k - k_own[un]) - ku * (tot[vc] - (tot[comm[un]] - ku))
            pos = gain > 0
            movers, new_c = _best(un[pos], gain[pos], vc[pos])
            comm[movers] = new_c
    out = np.flatnonzero(comm >= 0)
    return _frame(spark, schema, uniq[out], cuniq[comm[out]])


def link_prediction_scores(
    df: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """KG completion candidates: score non-adjacent node pairs that
    share neighbors, by common-neighbor count and the resource-
    allocation index (Zhou/Lü/Zhang 2009) in integer fixed point:

        ra_ppm(u, v) = Σ_{z ∈ Γ(u) ∩ Γ(v)}  10^6 div deg(z)

    BIGINT division only — engine-reproducible. Plan shape is the
    wedge join (two scans of the doubled edge list joined on the
    center), the same shape as triangle counting; `max_degree` drops
    hub centers before the join — the documented 100 TB guard, since
    a degree-d hub emits d² wedge pairs while contributing only
    10^6/d mass to each (negligible score, quadratic cost).
    Output: (u, v, n_common, ra_ppm) for non-adjacent u < v.
    """
    e = undirected_edges(df, src, dst)
    b2 = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = b2.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    centers = deg if max_degree is None else deg.where(F.col("d") <= max_degree)
    za = b2.join(centers.select("u", "d"), "u").select(
        F.col("u").alias("z"), F.col("v").alias("a"), "d"
    )
    zb = b2.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wedges = za.join(zb, "z").where(F.col("a") < F.col("b"))
    scores = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum(F.expr("1000000L div d")).cast("long").alias("ra_ppm"),
    )
    return (
        scores.join(
            e,
            (scores["a"] == e["u"]) & (scores["b"] == e["v"]),
            "left_anti",
        )
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            "ra_ppm",
        )
    )
