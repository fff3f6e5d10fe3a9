"""Graph kernels shared by the query layer and the CLI.

One implementation each of the mechanisms the graph operators are built
from: a multi-source frontier BFS, a path-carrying simple-path search, one
sparse mat-vec step (PageRank, HITS, eigenvector and Katz are all this
step joined against an edge table), an L1 normalisation, one synchronous
label-propagation round, the generator for the unrolled ``c{i}``/
``r{i}`` CTE chains the DuckDB oracles use for fixed-round iterations,
and ``memo``, the session memo that pins a shared intermediate once.

Small-graph leg: ``small_graph`` fetches an adjacency of at most
``CGC_SCC_SMALL_CUTOVER`` distinct edges to the driver once, as Arrow, and
maps its node ids to int64 index arrays (``SmallGraph``). The rank kernels
(PageRank, personalized PageRank, HITS) then run their rounds as numpy
scatter-adds (``SmallGraph.matvec``), SCC runs Tarjan and reachability a
plain BFS; above the cutover each caller runs its distributed loop.

Conventions: an adjacency frame has columns ``src`` and ``dst``; score and
label vectors are keyed by ``node_id``.

Checkpoint policy, fixed here and nowhere else: loop-invariant inputs are
checkpointed eagerly (``pin``), per-round state lazily (``lazy``). A lazy
local checkpoint keeps the lineage linear in the round count without the
extra materializing job an eager one runs per round; its last stage runs
with the first action that reads it.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

# Small-graph cutover, in distinct edges (and listed nodes). At or below it
# these run on the driver over the collected adjacency, with identical
# results: pagerank_ranks (kg_graph_pagerank, kg_graph_ppr, the CLI's
# `related`), kg_graph_hits, _scc_labels (kg_graph_scc and kg_graph_bowtie,
# through ensure_scc) and _reach_from (kg_graph_bowtie). On such a graph
# every distributed round is a few single-task stages, so the distributed
# loops spend their time on per-job driver overhead: the driver leg runs a
# few Spark jobs where they run tens. Above the cutover the distributed
# loops run; they are the only path for web-scale graphs. Same discipline
# as pipeline/canon.py's connected_components cutover; tests force the
# distributed branch by setting CGC_SCC_SMALL_CUTOVER=0.
_SMALL_GRAPH_CUTOVER = 100_000


def pin(df: DataFrame) -> DataFrame:
    """Checkpoint a loop-invariant input once, eagerly."""
    return df.localCheckpoint(eager=True)


def lazy(df: DataFrame) -> DataFrame:
    """Checkpoint per-round state lazily."""
    return df.localCheckpoint(eager=False)


_MEMO: dict = {}


def memo(spark, key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """Session memo for a shared intermediate: ``build()`` pinned once per
    (application id, *key), the same frame returned on every later call.
    Callers put the loader they resolve (the table reader, the graph
    source) in ``key``, so a monkeypatched loader gets a fresh build
    instead of a stale frame. Entries live as long as the process."""
    k = (spark.sparkContext.applicationId, *key)
    df = _MEMO.get(k)
    if df is None:
        df = _MEMO[k] = pin(build())
    return df


def iterate(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], rounds: int
) -> DataFrame:
    """Run ``rounds`` synchronous rounds of ``step``, checkpointing the
    state lazily before each one."""
    for _ in range(rounds):
        state = step(lazy(state))
    return state


def frontier_bfs(
    adj: DataFrame, seeds: DataFrame, depth: int | None = None
) -> DataFrame:
    """Multi-source semi-naive BFS over ``adj`` (src, dst).

    ``seeds`` holds (source, node) rows; every source key is searched
    separately. Returns (source, node, depth) at first visit, the seeds
    themselves at depth 0. Each hop joins only the fresh frontier and
    anti-joins the seen set, so every (source, node) pair is expanded once
    and the state is O(reached pairs). With a ``depth`` cap the loop runs
    exactly that many hops; without one it runs until a hop finds nothing
    new, at the cost of one emptiness probe per hop. No broadcast is
    forced: AQE picks the join strategy from the runtime frontier size."""
    frontier = lazy(seeds.select("source", "node").distinct())
    seen = frontier.withColumn("depth", F.lit(0))
    hop = 0
    while depth is None or hop < depth:
        hop += 1
        fresh = lazy(
            adj.join(frontier.withColumnRenamed("node", "src"), "src")
            .select("source", F.col("dst").alias("node"))
            .distinct()
            .join(seen, ["source", "node"], "left_anti")
        )
        if depth is None and fresh.isEmpty():
            break
        seen = seen.unionByName(fresh.withColumn("depth", F.lit(hop)))
        frontier = fresh
    return seen


def simple_paths(
    adj: DataFrame, start: DataFrame, targets: DataFrame, depth: int
) -> DataFrame:
    """Every simple path of 1..``depth`` hops over ``adj`` (src, dst) from
    a ``start`` node to a ``targets`` node (both frames: one ``node``
    column), as (path array<node>, tip). Paths carry their node list, so
    cycles are pruned with ``array_contains``; a path that reaches a target
    stops extending. Start and targets are point lookups, so the path
    frontier and the target set are broadcast."""
    targets = F.broadcast(targets.select(F.col("node").alias("tip")))
    paths = lazy(
        start.select(F.array("node").alias("path"), F.col("node").alias("tip"))
    )
    hits = paths.limit(0)
    for _ in range(depth):
        grown = lazy(
            adj.join(F.broadcast(paths.withColumnRenamed("tip", "src")), "src")
            .where(~F.array_contains(F.col("path"), F.col("dst")))
            .select(
                F.concat(F.col("path"), F.array("dst")).alias("path"),
                F.col("dst").alias("tip"),
            )
        )
        hits = hits.unionByName(grown.join(targets, "tip", "left_semi"))
        paths = lazy(grown.join(targets, "tip", "left_anti"))
        if paths.isEmpty():
            break
    return hits


def matvec(adj: DataFrame, vec: DataFrame, value, out: str) -> DataFrame:
    """One sparse mat-vec step: join the vector (node_id, ...) to ``adj``
    on ``src``, then group by ``dst`` and sum ``value``. Returns
    (node_id, ``out``) for every node that receives a contribution."""
    return (
        adj.join(vec.withColumnRenamed("node_id", "src"), "src")
        .groupBy(F.col("dst").alias("node_id"))
        .agg(F.sum(value).alias(out))
    )


def l1_normalise(ids: DataFrame, raw: DataFrame, out: str, scale: int) -> DataFrame:
    """Scale a mat-vec result (node_id, raw) to integers summing to about
    ``scale`` over every node in ``ids`` (floor division; nodes without a
    contribution get 0). The total is a single-row aggregate cross-joined
    back, so the driver collects nothing."""
    tot = raw.agg(
        F.greatest(F.coalesce(F.sum("raw"), F.lit(0)), F.lit(1)).alias("tot")
    )
    return (
        ids.join(raw, "node_id", "left")
        .crossJoin(tot)
        .select(
            "node_id",
            F.expr(f"coalesce(raw, 0L) * {scale}L div tot").alias(out),
        )
    )


def label_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous label-propagation round over ``adj`` (src, dst):
    every ``dst`` node takes the modal label of its ``src`` neighbours,
    ties going to the smallest label; nodes with no neighbour keep theirs.
    The argmax is a min over (-count, label) structs, a map-side-combinable
    aggregate with no window."""
    pick = (
        adj.join(labels.withColumnRenamed("node_id", "src"), "src")
        .groupBy("dst", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("dst")
        .agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
            ).alias("best")
        )
        .select(F.col("dst").alias("node_id"), F.col("best.l").alias("new_label"))
    )
    return labels.join(pick, "node_id", "left").select(
        "node_id", F.coalesce("new_label", "label").alias("label")
    )


class SmallGraph(NamedTuple):
    """A collected adjacency: ``names`` holds the node id of every index,
    the listed ids first (indices ``0 .. n-1``, in listed order), then each
    edge endpoint that is not listed; ``src``/``dst`` are int64 index
    arrays, one entry per distinct edge."""

    names: pa.Array
    n: int
    src: np.ndarray
    dst: np.ndarray

    def matvec(self, values: np.ndarray, forward: bool = True) -> np.ndarray:
        """Small-graph twin of ``matvec``: sum the per-edge int64 ``values``
        into their ``dst`` (or, with ``forward=False``, their ``src``) over
        every index. Integer scatter-adds, no float weights, so the sums are
        exact; callers keep them far inside int64."""
        out = np.zeros(len(self.names), np.int64)
        np.add.at(out, self.dst if forward else self.src, values)
        return out

    def neighbours(self) -> list[list[int]]:
        """Out-neighbour lists per index."""
        out: list[list[int]] = [[] for _ in range(len(self.names))]
        for u, v in zip(self.src.tolist(), self.dst.tolist()):
            out[u].append(v)
        return out


def small_graph(
    adj: DataFrame, ids: DataFrame | None = None
) -> SmallGraph | None:
    """Fetch the distinct adjacency ``adj`` (src, dst), and the one-column
    node list ``ids`` if given, to the driver in one pass each. Returns
    ``None`` when either holds more than the small-graph cutover rows: the
    caller then runs its distributed loop."""
    cutover = int(os.environ.get("CGC_SCC_SMALL_CUTOVER", _SMALL_GRAPH_CUTOVER))
    edges = adj.select("src", "dst").limit(cutover + 1).toArrow()
    if edges.num_rows > cutover:
        return None
    listed = pa.array([], edges.schema.field("src").type)
    if ids is not None:
        table = ids.limit(cutover + 1).toArrow()
        if table.num_rows > cutover:
            return None
        listed = pc.unique(table.column(0))
    keys = pc.dictionary_encode(
        pa.concat_arrays(
            [listed, *edges.column("src").chunks, *edges.column("dst").chunks]
        ),
        null_encoding="encode",
    )
    codes = keys.indices.to_numpy().astype(np.int64)
    n, m = len(listed), edges.num_rows
    return SmallGraph(keys.dictionary, n, codes[n : n + m], codes[n + m :])


def _unrolled(
    head: str, step: Callable[[int], str], k: int, tail: str
) -> str:
    """An unrolled oracle CTE chain: ``head``, then ``step(1)`` ..
    ``step(k)`` joined by ``,\\n``, then ``tail`` verbatim."""
    return ",\n".join([head, *(step(i) for i in range(1, k + 1))]) + tail
