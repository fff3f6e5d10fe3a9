"""Stage 6 — entity canonicalization: MinHash-LSH blocking + connected components.

The reference collapses duplicate entities via Neo4j MERGE on exact unique keys
(reference ``tools/graph_builder.py:69-75,120-128``). Web entities have no exact
keys, so per the north rule this becomes fuzzy dedup:

  1. candidate pairs via banded MinHash-LSH over character-3-gram sets of the
     normalized defined surfaces (deterministic seeded hashes -> same output at
     any parallelism; SURVEY.md §7.4),
  2. verification by exact 3-gram Jaccard >= CANON_JACCARD_THRESHOLD and
     same entity type,
  3. connected components by iterative min-label propagation (driver loop of
     DataFrame self-joins, ``localCheckpoint`` per iteration to cut lineage),
  4. cluster label = lexicographically-min normalized surface; entity_id =
     md5(label) — content-addressed, stable across cluster sizes.

Everything is JVM-side Catalyst expressions (sequence/transform/array_min over
md5 strings); the (bands x rows) shape is the web-scale knob. The min-label
groupBy aggregates partially map-side, so hub-entity skew (one label with
millions of members) is absorbed by partial aggregation + AQE skew handling
rather than a hot reducer.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..datagen.vocab import CANON_JACCARD_THRESHOLD

# Merge-pair count below which connected_components collects to driver
# union-find; above it the distributed min-label loop runs. Env override
# CGC_CC_SMALL_CUTOVER lets tests force the loop on small fixtures.
CC_SMALL_CUTOVER = 100_000

# Which branch the last connected_components call took ("union-find" or
# "min-label-loop") — observability for tests pinning the distributed path.
LAST_CC_PATH: str | None = None

# Classic b x r banding: a pair blocks iff ALL r minhashes of some band agree,
# so P(block | J) = 1 - (1 - J^r)^b. With b=16, r=2 (32 minhashes total):
#   J=0.45 (merge threshold) -> 0.973     J=0.79 (typical variant pair) -> ~1.0
#   J=0.10 (junk: one shared 3-gram) -> 0.148   vs 0.97 for 32 size-1 bands.
# Size-1 bands (round 1) made nearly every pair sharing ONE common 3-gram a
# candidate — quadratic blow-up on hot shingles at web scale. r=2 requires two
# independent minhash agreements per band, cutting expected junk band
# collisions ~20x while keeping recall at the 0.45 verification threshold.
B_BANDS = 16
R_ROWS = 2
N_MINHASH = B_BANDS * R_ROWS


def norm_expr(col):
    """Spark twin of vocab.norm_surface (lower + whitespace collapse)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def grams_expr(col):
    """array<string> of distinct character 3-grams (JVM: sequence+transform)."""
    n = F.greatest(F.length(col) - 2, F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(col, i, 3))
    )


def minhash_expr(grams, seed: int):
    """One minhash value = min over grams of md5(seed:gram) — a deterministic
    string-valued hash family (md5 is stable everywhere, incl. the DuckDB
    oracle side)."""
    return F.array_min(
        F.transform(grams, lambda g: F.md5(F.concat(F.lit(f"{seed}:"), g)))
    )


def _jaccard_cols(g1, g2):
    inter = F.size(F.array_intersect(g1, g2))
    return inter / (F.size(g1) + F.size(g2) - inter)


def blocked_pairs(
    surfaces: DataFrame, n_bands: int = B_BANDS, n_rows: int = R_ROWS
) -> DataFrame:
    """surfaces(surface, etype) -> LSH-blocked pairs (a, b, ga, gb), a < b.

    Band signature = md5 of the concatenated r minhashes of that band, so a
    collision needs all r hashes to agree. Exposed separately from
    :func:`candidate_pairs` so tests can measure blocking selectivity
    directly (the verified-pair output hides false positives).
    """
    s = surfaces.select(
        F.col("surface"), F.col("etype"), grams_expr(F.col("surface")).alias("grams")
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            minhash_expr(F.col("grams"), k * n_rows + r)
                            for r in range(n_rows)
                        ],
                    )
                ).alias("sig"),
            )
            for k in range(n_bands)
        ]
    )
    keyed = s.select(
        "surface", "etype", "grams", F.explode(bands).alias("b")
    ).select("surface", "etype", "grams", "b.band", "b.sig")

    left = keyed.alias("l")
    right = keyed.alias("r")
    return (
        left.join(
            right,
            on=(
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.sig") == F.col("r.sig"))
                & (F.col("l.etype") == F.col("r.etype"))
                & (F.col("l.surface") < F.col("r.surface"))
            ),
        )
        .select(
            F.col("l.surface").alias("a"),
            F.col("r.surface").alias("b"),
            F.col("l.grams").alias("ga"),
            F.col("r.grams").alias("gb"),
        )
        .dropDuplicates(["a", "b"])
    )


def candidate_pairs(surfaces: DataFrame) -> DataFrame:
    """surfaces(surface, etype) -> verified merge pairs (a, b), a < b.

    LSH blocking (b x r banded minhash, self-join on the band key), then
    verification re-computes exact Jaccard on the blocked pairs only.
    """
    pairs = blocked_pairs(surfaces)
    return (
        pairs.where(_jaccard_cols(F.col("ga"), F.col("gb")) >= CANON_JACCARD_THRESHOLD)
        .select("a", "b")
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label propagation over string ids.

    vertices: (surface); edges: (a, b) undirected pairs.
    Returns (surface, label) where label = min surface of the component.

    Driver loop; each iteration is one shuffle (groupBy min). localCheckpoint
    truncates lineage so plans stay O(1) per iteration. Convergence for our
    alias clusters (diameter <= ~3) is a handful of iterations; max_iter caps
    pathological chains (SURVEY.md §7.4.3).
    """
    # Small-graph fast path: below this many merge pairs, run driver-side
    # union-find — identical labels (min surface per component), ~10 Spark
    # jobs fewer. The DataFrame loop below is the web-scale path (pair count
    # >> driver memory); the threshold is the cutover knob, overridable via
    # CGC_CC_SMALL_CUTOVER so tests can force the distributed branch on small
    # fixtures (set 0 -> loop always). The probe IS the fetch: one bounded
    # Arrow pull of at most cutover+1 pairs decides the branch and, below the
    # cutover, is the union-find input. Above it the pulled pairs are dropped
    # and the edges materialize once for the loop.
    global LAST_CC_PATH
    small = int(os.environ.get("CGC_CC_SMALL_CUTOVER", CC_SMALL_CUTOVER))
    head = edges.select("a", "b").limit(small + 1).toArrow()
    if head.num_rows <= small:
        LAST_CC_PATH = "union-find"
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in zip(head.column("a").to_pylist(), head.column("b").to_pylist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo  # min-label root, same as the loop's fixpoint
        # an Arrow table makes a LocalRelation (no Python worker re-pickles
        # the rows on every action, as a list-built frame's scan does)
        surfaces = sorted(parent)
        labels_df = edges.sparkSession.createDataFrame(
            pa.table({
                "surface": pa.array(surfaces, pa.string()),
                "label": pa.array([find(s) for s in surfaces], pa.string()),
            }),
            "surface string, label string",
        )
        return (
            vertices.join(F.broadcast(labels_df), on="surface", how="left")
            .select(
                "surface", F.coalesce("label", "surface").alias("label")
            )
        )

    LAST_CC_PATH = "min-label-loop"
    edges = edges.localCheckpoint(eager=True)
    sym = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(edges.select(F.col("b").alias("x"), F.col("a").alias("y")))
    )
    labels = vertices.select(F.col("surface"), F.col("surface").alias("label"))
    for _ in range(max_iter):
        # neighbor label min: join labels onto edge source, min per target
        nbr = (
            sym.join(labels.withColumnRenamed("surface", "x"), on="x")
            .groupBy(F.col("y").alias("surface"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, on="surface", how="left")
            .select(
                "surface",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="surface")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def canonicalize_entities(defs: DataFrame) -> DataFrame:
    """defs(url, sent_id, surface, etype) ->
    canon(surface, etype, label, entity_id) for every *defined* surface.

    entity_id = md5(cluster label): content-addressed (no
    monotonically_increasing_id — deterministic under any parallelism).
    """
    surfaces = (
        defs.select(norm_expr(F.col("surface")).alias("surface"), "etype").distinct()
    )
    # conflicting type declarations for one surface: keep the min type (rare;
    # deterministic tie-break)
    surfaces = surfaces.groupBy("surface").agg(F.min("etype").alias("etype"))
    pairs = candidate_pairs(surfaces)
    labels = connected_components(surfaces.select("surface"), pairs)
    return (
        surfaces.join(labels, on="surface")
        .select(
            "surface",
            "etype",
            "label",
            F.md5("label").alias("entity_id"),
        )
    )
