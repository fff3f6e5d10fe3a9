"""End-to-end P/R gate (north rule: triple P/R >= 0.95 vs reference-emitted
triples, known-miss rows excluded from the denominator exactly as the
reference documents its recall limits via pytest.mark.skip,
tests/test_graph_indexing.py:112-188)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import golden

OPEN_PREDS = ("MENTIONS", "LINKS_TO", "HAS_TYPE")


def test_open_edge_precision_recall(spark, corpus_dir, pipeline_out):
    got = (
        pipeline_out["edges"]
        .where(~F.col("pred").isin(*OPEN_PREDS))
        .select("subj_id", "pred", "obj_id")
        .distinct()
    )
    exp = golden(spark, corpus_dir, "edges").distinct()
    n_got, n_exp = got.count(), exp.count()
    inter = got.intersect(exp).count()
    precision = inter / max(n_got, 1)
    recall = inter / max(n_exp, 1)
    assert precision >= 0.95, f"precision {precision:.4f} ({n_got} emitted)"
    assert recall >= 0.95, f"recall {recall:.4f} ({n_exp} golden)"


def test_nodes_cover_all_types(spark, pipeline_out):
    types = {
        r.node_type
        for r in pipeline_out["nodes"].select("node_type").distinct().collect()
    }
    assert types == {"Page", "Entity", "Domain", "Type"}


def test_every_entity_has_type_edge(spark, pipeline_out):
    """HAS_TYPE (Parameter-node analog): every materialized entity carries at
    least one attribute edge to its declared type node."""
    nodes, edges = pipeline_out["nodes"], pipeline_out["edges"]
    ents = nodes.where(F.col("node_type") == "Entity").select("node_id")
    typed = (
        edges.where(F.col("pred") == "HAS_TYPE")
        .select(F.col("subj_id").alias("node_id"))
        .distinct()
    )
    assert ents.join(typed, on="node_id", how="left_anti").count() == 0
    # and every HAS_TYPE target is a Type node
    t_targets = edges.where(F.col("pred") == "HAS_TYPE").select(
        F.col("obj_id").alias("node_id")
    ).distinct()
    t_nodes = nodes.where(F.col("node_type") == "Type").select("node_id")
    assert t_targets.join(t_nodes, on="node_id", how="left_anti").count() == 0


def test_node_ids_unique(spark, pipeline_out):
    nodes = pipeline_out["nodes"]
    assert nodes.count() == nodes.select("node_id", "node_type").distinct().count()


def test_edges_unique_on_triple_key(spark, pipeline_out):
    e = pipeline_out["edges"]
    assert e.count() == e.select("subj_id", "pred", "obj_id").distinct().count()


def test_mentions_edges_reference_existing_nodes(spark, pipeline_out):
    """Referential integrity: every edge endpoint resolves to a node
    (the reference guarantees this via its two-pass build, L5)."""
    nodes = pipeline_out["nodes"].select("node_id")
    edges = pipeline_out["edges"]
    dangling = (
        edges.select(F.col("subj_id").alias("node_id"))
        .union(edges.select(F.col("obj_id").alias("node_id")))
        .distinct()
        .join(nodes, on="node_id", how="left_anti")
        .count()
    )
    assert dangling == 0


def test_edge_occurrences_roll_up_to_edges(spark, pipeline_out):
    """The edges table is exactly the occurrence table's
    (subj, pred, obj) rollup: n_occurrences matches the per-key site count,
    and (first_url, first_sent_id) is the minimum site — so every edge's
    provenance is answerable per-sentence from edge_occurrences."""
    occ = pipeline_out["edge_occurrences"]
    rolled = occ.groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min(F.struct("url", "sent_id")).alias("_p"),
    ).select(
        "subj_id", "pred", "obj_id", "n_occurrences",
        F.col("_p.url").alias("first_url"),
        F.col("_p.sent_id").alias("first_sent_id"),
    )
    edges = pipeline_out["edges"].select(*rolled.columns)
    assert edges.exceptAll(rolled).count() == 0
    assert rolled.exceptAll(edges).count() == 0


def test_driver_rollup_matches_spark_rollup_on_edge_cases(spark):
    """The pyarrow twins of ``graph_nodes`` and ``edges_from_occurrences``
    give the Spark functions' rows where the two could part: a null etype
    (a null Type id), labels whose minimum differs between UTF-8 byte order
    and a locale collation, duplicate domains, and provenance ties broken
    on sent_id with a null sent_id sorting first."""
    from collections import Counter

    import pyarrow as pa

    from codegraphcontext_spark.pipeline.materialize import (
        edges_from_occurrences, edges_table, graph_nodes, graph_nodes_table,
    )

    s = pa.string()
    docs = pa.table({"url": ["u1", "u2"], "lang": ["en", None]})
    canon = pa.table({
        "entity_id": ["e1", "e1", "e2", "e3"],
        "label": ["zeta", "Äther", "beta", "b"],
        "etype": ["ORG", "ORG", None, "PER"],
    }, schema=pa.schema([("entity_id", s), ("label", s), ("etype", s)]))
    links = pa.table({"domain": ["a.com", "a.com", "b.org"]})
    occ = pa.table({
        "subj_id": ["u1", "u1", "u1", "u2", "e1"],
        "pred": ["MENTIONS", "MENTIONS", "MENTIONS", "LINKS_TO", "HAS_TYPE"],
        "obj_id": ["e1", "e1", "e1", "a.com", None],
        "url": ["u1", "u1", "u2", "u2", "u1"],
        "sent_id": pa.array([3, None, 0, 0, 2], pa.int32()),
    }, schema=pa.schema([
        ("subj_id", s), ("pred", s), ("obj_id", s), ("url", s), ("sent_id", pa.int32()),
    ]))

    def rows(table):
        return Counter(tuple(r.values()) for r in table.to_pylist())

    frames = [spark.createDataFrame(t) for t in (docs, canon, links, occ)]
    for spark_plan, twin in (
        (graph_nodes(*frames[:3]), graph_nodes_table(docs, canon, links)),
        (edges_from_occurrences(frames[3]), edges_table(occ)),
    ):
        assert rows(twin.select(spark_plan.columns)) == rows(spark_plan.toArrow())
