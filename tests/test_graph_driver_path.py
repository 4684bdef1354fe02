"""The iterative graph operators' driver twins (graph_stats._dispatch)
return exactly what their distributed loops return — rows, schema and
errors — on seeded random graphs with string and long nodes, duplicate
edges, self-loops and null endpoints. The distributed path is forced
by lowering canonicalize.DRIVER_GRAPH_THRESHOLD to -1 (0 would still
send an empty input to the driver).

Both paths also leave no persisted blocks behind: the driver path
none at all, the distributed path only the checkpoint its returned
frame reads."""

import random

import pytest

from batch_import_spark.operators import canonicalize
from batch_import_spark.operators.graph_stats import (
    bfs_distances,
    kcore,
    label_propagation,
    louvain_refine,
    pagerank,
    pagerank_weighted,
)

# string names whose order differs from the integers they stand for,
# with non-ASCII code points (Spark orders strings by UTF-8 bytes)
_NAMES = [f"{c}{i}" for i, c in enumerate("zyéxwvµutsrqpo" * 4)]


def _node(kind, i):
    return None if i is None else (i * 7 if kind == "long" else _NAMES[i])


def _edges(spark, kind, seed, n_nodes=24, n_edges=70, weighted=False, empty=False):
    rng = random.Random(seed)
    pairs = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    pairs += pairs[:8] + [(3, 3), (5, 5), (None, 1), (2, None), (None, None)]
    if empty:
        pairs = [(4, 4), (None, 2)]  # nothing survives the self-loop/null filter
    rows = [(_node(kind, a), _node(kind, b), rng.randrange(1, 5)) for a, b in pairs]
    df = spark.createDataFrame(rows, f"src {_sql(kind)}, dst {_sql(kind)}, w bigint")
    return df if weighted else df.drop("w")


def _sql(kind):
    return "bigint" if kind == "long" else "string"


def _nodes(spark, kind, ids):
    return spark.createDataFrame([(_node(kind, i),) for i in ids], f"node {_sql(kind)}")


def _persistent(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _backing_rdds(df):
    """Ids of the checkpointed RDDs the frame's plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def _run(spark, op):
    """(sorted rows, [(name, type)]) of ``op()``, or the error it raised;
    asserts the block-lifetime rule of whichever path ran."""
    before = _persistent(spark)
    try:
        df = op()
        rows = sorted(df.collect(), key=repr)
    except Exception as exc:  # both paths must raise the same way
        return type(exc).__name__
    new = _persistent(spark) - before
    if canonicalize.DRIVER_GRAPH_THRESHOLD < 0:
        assert new and new <= _backing_rdds(df), "distributed loop leaked blocks"
    else:
        assert not new, "driver path persisted blocks"
    return rows, [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _assert_paths_equal(spark, monkeypatch, op):
    driver = _run(spark, op)
    monkeypatch.setattr(canonicalize, "DRIVER_GRAPH_THRESHOLD", -1)
    try:
        distributed = _run(spark, op)
    finally:
        monkeypatch.undo()
    assert driver == distributed
    return driver


KINDS = ["long", "string"]
SEEDS = [1, 2]


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("seed", SEEDS)
def test_pagerank_paths_equal(spark, monkeypatch, kind, seed):
    g = _edges(spark, kind, seed)
    out = _assert_paths_equal(spark, monkeypatch, lambda: pagerank(g, iterations=4))
    assert len(out[0]) > 10
    seeds = [_node(kind, 0), _node(kind, 1), _node(kind, 999 % len(_NAMES))]
    _assert_paths_equal(
        spark, monkeypatch, lambda: pagerank(g, iterations=3, reset_nodes=seeds)
    )
    _assert_paths_equal(spark, monkeypatch, lambda: pagerank(g, iterations=0))


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("seed", SEEDS)
def test_pagerank_weighted_paths_equal(spark, monkeypatch, kind, seed):
    g = _edges(spark, kind, seed, weighted=True)
    out = _assert_paths_equal(spark, monkeypatch, lambda: pagerank_weighted(g, iterations=4))
    assert len(out[0]) > 10


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("directed", [True, False])
def test_bfs_paths_equal(spark, monkeypatch, kind, seed, directed):
    g = _edges(spark, kind, seed, n_edges=30)
    # source 30 is not in the graph; a null source is kept at distance 0
    srcs = _nodes(spark, kind, [0, 0, 1, 2, 30, None])
    out = _assert_paths_equal(
        spark, monkeypatch,
        lambda: bfs_distances(g, srcs, directed=directed, max_hops=6),
    )
    assert max(r["dist"] for r in out[0]) > 0
    # no source reaches anything: the sources' own column type
    lone = _nodes(spark, kind, [31])
    _assert_paths_equal(spark, monkeypatch, lambda: bfs_distances(g, lone, directed=directed))


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("seed", SEEDS)
def test_kcore_paths_equal(spark, monkeypatch, kind, seed):
    g = _edges(spark, kind, seed)
    for k in (2, 5):
        _assert_paths_equal(spark, monkeypatch, lambda: kcore(g, k))
    # a peel that needs more rounds than allowed raises on both paths
    chain = spark.createDataFrame(
        [(_node(kind, i), _node(kind, i + 1)) for i in range(6)], g.schema
    )
    assert _assert_paths_equal(
        spark, monkeypatch, lambda: kcore(chain, 2, max_iterations=2)
    ) == "RuntimeError"


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("seed", SEEDS)
def test_label_propagation_paths_equal(spark, monkeypatch, kind, seed):
    g = _edges(spark, kind, seed)
    out = _assert_paths_equal(spark, monkeypatch, lambda: label_propagation(g, iterations=3))
    assert len({r["community"] for r in out[0]}) < len(out[0])


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("seed", SEEDS)
def test_louvain_paths_equal(spark, monkeypatch, kind, seed):
    g = _edges(spark, kind, seed, n_edges=50)
    rng = random.Random(seed)
    # every 4th node unassigned; node 40 has no edges; one null community
    rows = [(_node(kind, i), _node(kind, rng.randrange(4))) for i in range(24) if i % 4]
    rows += [(_node(kind, 40 % len(_NAMES)), _node(kind, 1)), (_node(kind, 4), None)]
    assign = spark.createDataFrame(rows, f"node {_sql(kind)}, community {_sql(kind)}")
    _assert_paths_equal(
        spark, monkeypatch, lambda: louvain_refine(g, assign, sweeps=2, colors=2)
    )
    lp = label_propagation(g, iterations=2)
    _assert_paths_equal(spark, monkeypatch, lambda: louvain_refine(g, lp, sweeps=1, colors=3))


@pytest.mark.parametrize("kind", KINDS)
def test_empty_edge_set_paths_equal(spark, monkeypatch, kind):
    g = _edges(spark, kind, 0, empty=True)
    gw = _edges(spark, kind, 0, weighted=True, empty=True)
    assign = spark.createDataFrame(
        [(_node(kind, 1), _node(kind, 1))], f"node {_sql(kind)}, community {_sql(kind)}"
    )
    # N = 0 nodes: the rank init divides by zero on both paths
    assert _assert_paths_equal(spark, monkeypatch, lambda: pagerank(g)) == "ZeroDivisionError"
    assert _assert_paths_equal(spark, monkeypatch, lambda: pagerank_weighted(gw)) == "ZeroDivisionError"
    for op in (
        lambda: pagerank(g, reset_nodes=[_node(kind, 1)]),
        lambda: kcore(g, 1),
        lambda: label_propagation(g),
        lambda: louvain_refine(g, assign),
    ):
        assert _assert_paths_equal(spark, monkeypatch, op)[0] == []
    rows, _ = _assert_paths_equal(
        spark, monkeypatch, lambda: bfs_distances(g, _nodes(spark, kind, [1]))
    )
    assert [tuple(r) for r in rows] == [(_node(kind, 1), 0)]


def test_weighted_pagerank_overflow_raises_on_driver_path(spark):
    """85·rank·w past int64 raises as Spark's ANSI arithmetic does; the
    twin neither wraps nor returns a Python bignum."""
    g = spark.createDataFrame([(1, 2, 2**61), (2, 1, 1)], "src bigint, dst bigint, w bigint")
    with pytest.raises(Exception, match="(?i)overflow"):
        pagerank_weighted(g, iterations=2).collect()
