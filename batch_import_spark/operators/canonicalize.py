"""Canonicalization: connected components over an equivalence edge list.

The reference's value-level identity convention is "two rows that
resolve to the same indexed key get the same node id"
(Importer.java:129-132); its edge-normalization sort key
min(start,end)/max(start,end) (FileIterator.java:88-98) is the
one-step version of what we make transitive here: the alternating
**large-star / small-star** connected-components algorithm of Kiveris
et al. (MapReduce and Beyond), expressed as DataFrame joins/aggs so
Catalyst/AQE handle shuffle and skew.

Determinism: component id = min node id in the component — an
order-free election, identical at any parallelism (SURVEY.md §7.3).
Lineage is cut with ``localCheckpoint`` every iteration so long runs
do not blow the plan up.

Scale notes: both stars are groupBy-min + join — no collect_list, so
hub nodes cost a shuffle but never a single-task materialization; AQE
skew-join splitting covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The one small-data bound of the graph operators: edge (or pair) sets
# of at most this many rows are collected and solved on the driver —
# here by union-find, in operators/graph_stats.py by the iterative
# family's numpy twins. 500k string/long pairs ≈ tens of MB on the
# heap — conservative vs the broadcast-join budget these paths replace.
# Read at call time, so tests can lower it to force the distributed
# paths.
DRIVER_GRAPH_THRESHOLD = 500_000


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of u to min(Γ⁺(u))."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's ≤-neighborhood, attach everything to the min."""
    # orient every edge (hi, lo)
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    j = o.join(m, "u")
    to_min = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = m.select("u", F.col("m").alias("v"))
    return to_min.union(self_edge).where(F.col("u") != F.col("v")).distinct()


def _driver_cc_edges(spark, e: DataFrame) -> DataFrame:
    """Union-find over a collected (u, v) edge table; min-id election.
    Same output contract as the distributed loop: one (node_id,
    component_id) row per node appearing in the (self-loop-filtered)
    edge set, component_id = the component's min node id."""
    from pyspark.sql.types import StructField, StructType

    rows = e.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        if root not in comp_min or n < comp_min[root]:
            comp_min[root] = n
    out = [(n, comp_min[find(n)]) for n in parent]
    schema = StructType(
        [
            StructField("node_id", e.schema[0].dataType, True),
            StructField("component_id", e.schema[1].dataType, True),
        ]
    )
    return spark.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_iterations: int = 50,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Return (node_id, component_id) with component_id = min id.

    ``edges``: long-typed undirected edge list; isolated nodes absent
    from it map to themselves (callers union identity if needed).
    Convergence: edge multiset fingerprint (count + hash-sum) stable
    across a large+small round.

    Edge sets at or under ``driver_threshold`` (default
    DRIVER_GRAPH_THRESHOLD; the count is already paid to size the
    iteration's shuffles) take a DRIVER-SIDE union-find — the CC
    analog of a broadcast join, the same dispatch canonical_mapping
    has always used for vocabulary-bounded inputs — skipping the
    multi-round shuffle loop's scheduling floor entirely. Both paths
    elect the min node id per component over the self-loop-filtered
    distinct edge set: identical, deterministic results
    (pytest-pinned on randomized graphs, test_round7_cc.py).
    """
    spark = edges.sparkSession
    sc0 = spark.sparkContext
    ids_before_input = set(sc0._jsc.getPersistentRDDs().keySet().toArray())
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(src) != F.col(dst)
    ).distinct()
    e = e.localCheckpoint(eager=True)
    input_ckpt_ids = (
        set(sc0._jsc.getPersistentRDDs().keySet().toArray()) - ids_before_input
    )

    # size the iteration's shuffles to the graph, not the session: a
    # tiny equivalence graph (e.g. an alias dictionary) converges in a
    # couple of 1-partition rounds; a billion-edge graph keeps the
    # session's width. ~1M edges per partition.
    n_edges = e.count()
    if driver_threshold is None:
        driver_threshold = DRIVER_GRAPH_THRESHOLD
    if n_edges <= driver_threshold:
        out = _driver_cc_edges(spark, e)
        jmap = sc0._jsc.getPersistentRDDs()
        for rid in input_ckpt_ids:
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)
        return out
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    cc_parts = max(1, min(int(saved), n_edges // 1_000_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(cc_parts))
    sc = spark.sparkContext

    def _persistent_ids() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def _unpersist(ids: set[int]) -> None:
        # free a superseded checkpoint's blocks — long CC loops (and
        # long sessions running many CCs) otherwise accumulate
        # MEMORY_AND_DISK blocks until GC pressure shows up as noise
        jmap = sc._jsc.getPersistentRDDs()
        for rid in ids:
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)

    try:
        prev_sig = None
        prev_ckpt_ids: set[int] = input_ckpt_ids
        for _ in range(max_iterations):
            before = _persistent_ids()
            e = _small_star(_large_star(e)).localCheckpoint(eager=True)
            new_ids = _persistent_ids() - before
            sig_row = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            # the new checkpoint is materialized → the previous one is
            # no longer referenced by anything downstream
            _unpersist(prev_ckpt_ids)
            prev_ckpt_ids = new_ids
            sig = (sig_row["n"], sig_row["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                f"connected_components: no convergence in {max_iterations} iterations"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    # converged: every edge is (node, component-min); roots map to themselves
    members = e.select(F.col("u").alias("node_id"), F.col("v").alias("component_id"))
    roots = e.select(F.col("v").alias("node_id")).distinct().withColumn(
        "component_id", F.col("node_id")
    )
    return members.union(roots).distinct()


def canonical_mapping(
    nodes_with_keys: DataFrame,
    node_col: str,
    key_col: str,
    driver_threshold: int | None = None,
) -> DataFrame:
    """CC over 'same key ⇒ same canonical node' equivalence.

    Small inputs (e.g. an alias dictionary — vocabulary-bounded, not
    corpus-bounded) take a DRIVER-SIDE union-find: the CC analog of a
    broadcast join, skipping ~6 s of iterative-shuffle latency. Large
    inputs run distributed large-star/small-star. Both elect the min
    node id per component — identical, deterministic results.
    """
    pairs_df = nodes_with_keys.select(
        F.col(node_col).alias("node_id"), F.col(key_col).alias("k")
    ).distinct()
    n_pairs = pairs_df.count()
    if driver_threshold is None:
        driver_threshold = DRIVER_GRAPH_THRESHOLD
    if n_pairs <= driver_threshold:
        return _driver_union_find(pairs_df)

    mins = nodes_with_keys.groupBy(key_col).agg(F.min(node_col).alias("_min_node"))
    star = (
        nodes_with_keys.join(mins, key_col)
        .select(F.col(node_col).alias("u"), F.col("_min_node").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    cc = connected_components(star)
    all_nodes = nodes_with_keys.select(F.col(node_col).alias("node_id")).distinct()
    return (
        all_nodes.join(cc, "node_id", "left")
        .select(
            "node_id",
            F.coalesce("component_id", "node_id").alias("canonical_id"),
        )
    )


def _driver_union_find(pairs_df: DataFrame) -> DataFrame:
    """Union-find over collected (node_id, key) pairs; min-id election."""
    rows = pairs_df.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    first_by_key: dict = {}
    nodes = set()
    for r in rows:
        node, key = r["node_id"], r["k"]
        nodes.add(node)
        if key in first_by_key:
            union(first_by_key[key], node)
        else:
            first_by_key[key] = node
    comp_min: dict = {}
    for n in nodes:
        root = find(n)
        if root not in comp_min or n < comp_min[root]:
            comp_min[root] = n
    out = [(n, comp_min[find(n)]) for n in sorted(nodes)]
    return pairs_df.sparkSession.createDataFrame(
        out, "node_id long, canonical_id long"
    )
