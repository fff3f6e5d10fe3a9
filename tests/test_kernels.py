"""Hand-computed pins for the shared graph kernels (queries/kernels.py)."""

from pyspark.sql import functions as F

from codegraphcontext_spark.queries.kernels import frontier_bfs, small_graph

# a -> b -> c -> a is a cycle back to seed "a"; c -> d -> e -> f is a tail.
_EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"), ("e", "f")]


def _bfs(spark, forward: bool, depth):
    adj = spark.createDataFrame(_EDGES, "src string, dst string")
    if not forward:
        adj = adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    seeds = spark.createDataFrame([(1, "a"), (2, "d")], "source int, node string")
    return {
        (r.source, r.node): r.depth
        for r in frontier_bfs(adj, seeds, depth).collect()
    }


def test_frontier_bfs_hand_computed(spark):
    """Two sources keyed separately, first-visit depths, the depth cap, the
    cycle back to the seed (never revisited), and both directions."""
    fwd_capped = {(1, "a"): 0, (1, "b"): 1, (1, "c"): 2,
                  (2, "d"): 0, (2, "e"): 1, (2, "f"): 2}
    assert _bfs(spark, True, 2) == fwd_capped
    assert _bfs(spark, True, None) == {
        **fwd_capped, (1, "d"): 3, (1, "e"): 4, (1, "f"): 5,
    }
    bwd_capped = {(1, "a"): 0, (1, "c"): 1, (1, "b"): 2,
                  (2, "d"): 0, (2, "c"): 1, (2, "b"): 2}
    assert _bfs(spark, False, 2) == bwd_capped
    assert _bfs(spark, False, None) == {**bwd_capped, (2, "a"): 3}


def test_small_graph_indexing_and_cutover(spark, monkeypatch):
    """Listed ids take indices 0..n-1 in order, unlisted endpoints follow;
    matvec sums per-edge values into dst (src when reversed); a graph of
    exactly the cutover's size takes the small leg, one edge more does
    not, and neither does a node list over the cutover."""
    adj = spark.createDataFrame(_EDGES, "src string, dst string")
    ids = spark.createDataFrame([("c",), ("a",), ("c",)], "node_id string")
    monkeypatch.setenv("CGC_SCC_SMALL_CUTOVER", str(len(_EDGES)))
    g = small_graph(adj, ids)
    names = g.names.to_pylist()
    assert g.n == 2 and names[:2] == ["c", "a"]
    assert sorted(names) == ["a", "b", "c", "d", "e", "f"]
    edges = {(names[u], names[v]) for u, v in zip(g.src, g.dst)}
    assert edges == set(_EDGES)
    ones = [1] * len(_EDGES)
    indeg = dict(zip(names, g.matvec(ones).tolist()))
    outdeg = dict(zip(names, g.matvec(ones, forward=False).tolist()))
    assert indeg == {"a": 1, "b": 1, "c": 1, "d": 1, "e": 1, "f": 1}
    assert outdeg == {"a": 1, "b": 1, "c": 2, "d": 1, "e": 1, "f": 0}
    monkeypatch.setenv("CGC_SCC_SMALL_CUTOVER", str(len(_EDGES) - 1))
    assert small_graph(adj) is None
    monkeypatch.setenv("CGC_SCC_SMALL_CUTOVER", "2")
    small = adj.limit(2)
    assert small_graph(small) is not None
    assert small_graph(small, ids) is None
