"""Canonicalization tests: LSH blocking recall, connected-components cluster
equality vs golden_entities, and determinism across parallelism levels
(FIXTURES.md §5; SURVEY.md §7.4.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from codegraphcontext_spark.datagen.vocab import (
    CANON_JACCARD_THRESHOLD,
    ENTITIES,
    char_3grams,
    entity_cluster_label,
    entity_id_of,
    jaccard,
    norm_surface,
)
from codegraphcontext_spark.pipeline.canon import (
    blocked_pairs,
    candidate_pairs,
    canonicalize_entities,
    connected_components,
)

from .conftest import golden


def test_vocab_thresholds_are_separable():
    """Intra-entity variant pairs must exceed the merge threshold; cross-entity
    same-type pairs must stay below it (otherwise golden clusters are wrong
    by construction)."""
    for key, etype, variants, _ in ENTITIES:
        for i in range(len(variants)):
            for j in range(i + 1, len(variants)):
                j_sim = jaccard(char_3grams(variants[i]), char_3grams(variants[j]))
                assert j_sim >= CANON_JACCARD_THRESHOLD, (variants[i], variants[j], j_sim)
    all_vars = [(k, t, v) for k, t, vs, _ in ENTITIES for v in vs]
    for i in range(len(all_vars)):
        for j in range(i + 1, len(all_vars)):
            k1, t1, v1 = all_vars[i]
            k2, t2, v2 = all_vars[j]
            if k1 != k2 and t1 == t2:
                j_sim = jaccard(char_3grams(v1), char_3grams(v2))
                assert j_sim < CANON_JACCARD_THRESHOLD, (v1, v2, j_sim)


def test_entity_clusters_match_golden(spark, corpus_dir, pipeline_out):
    got = pipeline_out["canon"].select("entity_id", "label").distinct()
    exp = golden(spark, corpus_dir, "entities").select(
        "entity_id", F.col("canonical_name").alias("label")
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_variant_surfaces_map_to_same_entity(spark, pipeline_out):
    multi = (
        pipeline_out["canon"]
        .groupBy("entity_id")
        .agg(F.collect_set("surface").alias("surfaces"))
        .where(F.size("surfaces") > 1)
        .collect()
    )
    merged = {frozenset(r.surfaces) for r in multi}
    assert frozenset({"acme corp", "acme corporation"}) in merged
    assert frozenset({"globex industries", "globex industries inc"}) in merged


@pytest.mark.parametrize(
    "cutover, path",
    [(None, "union-find"), ("0", "min-label-loop")],
    ids=["union-find", "min-label-loop"],
)
def test_connected_components_chain(spark, monkeypatch, cutover, path):
    """A path a-b-c-d must converge to min label 'a' (pathological-chain cap,
    SURVEY.md §7.4.3) on both sides of the size cutover: the default takes
    the driver union-find, CGC_CC_SMALL_CUTOVER=0 the distributed loop."""
    import codegraphcontext_spark.pipeline.canon as canon_mod

    if cutover is None:
        monkeypatch.delenv("CGC_CC_SMALL_CUTOVER", raising=False)
    else:
        monkeypatch.setenv("CGC_CC_SMALL_CUTOVER", cutover)
    canon_mod.LAST_CC_PATH = None
    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)], "surface string")
    e = spark.createDataFrame([("b", "c"), ("c", "d"), ("a", "b")], "a string, b string")
    labels = {r.surface: r.label for r in connected_components(v, e).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e"}
    assert canon_mod.LAST_CC_PATH == path


def _leaves(df) -> list[str]:
    """Class names of the leaves of ``df``'s analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


@pytest.mark.parametrize("pairs", [[("b", "c"), ("a", "b")], []], ids=["pairs", "empty"])
def test_driver_built_tables_are_local_relations(spark, monkeypatch, pairs):
    """The pattern table and the union-find labels (with merge pairs or
    none) are built from Arrow: their plans are LocalRelations, not the
    Scan ExistingRDD a Python list makes, whose every action runs Python
    workers to re-pickle the rows."""
    import pyarrow as pa

    from codegraphcontext_spark.pipeline.triples import patterns_df

    monkeypatch.delenv("CGC_CC_SMALL_CUTOVER", raising=False)
    assert _leaves(patterns_df(spark)) == ["LocalRelation"]
    v = spark.createDataFrame(pa.table({"surface": ["a", "b", "c", "d"]}))
    e = spark.createDataFrame(
        pa.table({"a": [a for a, _ in pairs], "b": [b for _, b in pairs]},
                 schema=pa.schema([("a", pa.string()), ("b", pa.string())])),
    )
    labels = connected_components(v, e)
    assert set(_leaves(labels)) == {"LocalRelation"}
    assert labels.schema.simpleString() == "struct<surface:string,label:string>"
    expect = {"a": "a", "b": "a", "c": "a", "d": "d"} if pairs else {s: s for s in "abcd"}
    assert {r.surface: r.label for r in labels.collect()} == expect


def test_canon_deterministic_across_parallelism(spark, pipeline_out):
    """Same clusters regardless of partitioning (no first-seen nondeterminism):
    re-run canonicalization over a deliberately re-partitioned defs input."""
    defs = pipeline_out["defs"]
    a = canonicalize_entities(defs.repartition(1)).select("surface", "entity_id")
    b = canonicalize_entities(defs.repartition(16)).select("surface", "entity_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_banding_blocks_all_golden_variant_pairs(spark):
    """Every intra-entity canonical-variant pair (J >= threshold by
    construction, test above) must survive LSH blocking + verification —
    recall at the merge threshold is the correctness edge of b x r banding."""
    rows = [(norm_surface(v), t) for _, t, vs, _ in ENTITIES for v in vs]
    surfaces = spark.createDataFrame(rows, "surface string, etype string")
    got = {
        (r.a, r.b) for r in candidate_pairs(surfaces).collect()
    }
    for _, _, variants, _ in ENTITIES:
        norm = sorted(norm_surface(v) for v in variants)
        for i in range(len(norm)):
            for j in range(i + 1, len(norm)):
                assert (norm[i], norm[j]) in got, (norm[i], norm[j])


def test_banding_selectivity_on_common_shingle(spark):
    """A corpus of dissimilar surfaces sharing one common token ("the") must
    produce >=10x fewer blocked candidate pairs under b=16 x r=2 banding than
    under round 1's 32 size-1 bands (the quadratic-hazard fix: one hot 3-gram
    shared by millions of docs must not make every pair a candidate)."""
    import hashlib

    rows = [
        (hashlib.md5(str(i).encode()).hexdigest()[:30] + " the", "org")
        for i in range(60)
    ]
    surfaces = spark.createDataFrame(rows, "surface string, etype string")
    n_r1 = blocked_pairs(surfaces, n_bands=32, n_rows=1).count()
    n_r2 = blocked_pairs(surfaces).count()
    assert n_r2 * 10 <= n_r1, (n_r1, n_r2)


def test_entity_id_is_content_addressed():
    label = entity_cluster_label(["Acme Corp", "Acme Corporation"])
    assert label == "acme corp"
    assert entity_id_of(label) == entity_id_of("acme corp")
