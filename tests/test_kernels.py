"""Hand-computed pins for the shared graph kernels (queries/kernels.py)."""

from pyspark.sql import functions as F

from codegraphcontext_spark.queries.kernels import frontier_bfs

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
