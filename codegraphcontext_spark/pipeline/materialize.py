"""Stage 7 — graph materialization: deduplicated node + edge tables.

The Spark transposition of the reference's Neo4j MERGE sinks
(``graph_builder.py:115-256``): uniqueness-constraint MERGE becomes
``dropDuplicates`` / groupBy on the unique key at write time.

Node table (unioned, typed):
    nodes(node_id, node_type, name, etype, lang, prop_count)
      Page:   node_id = url            (reference File.path key, :70)
      Entity: node_id = entity_id      (reference Function/Class keys, :72-73)
      Domain: node_id = domain         (reference Module.name key, :75)
      Type:   node_id = "type:"+etype  (reference Parameter merge key, :196-200)

Edge table (the (subj, pred, obj) triple table of the north rule):
    edges(subj_id, pred, obj_id, n_occurrences, first_url, first_sent_id)
      MENTIONS  Page -> Entity    (reference CONTAINS, :180-192)
      LINKS_TO  Page -> Domain    (reference IMPORTS, :211-243)
      HAS_TYPE  Entity -> Type    (reference HAS_PARAMETER, :194-200 —
                                   attribute-level nodes materialized from the
                                   definitional sentences, provenance = the
                                   defining (url, sent_id))
      <open>    Entity -> Entity  (reference CALLS/INHERITS, :302-329,389-399)

Provenance (first_url, first_sent_id) = min by (url, sent_id) — deterministic
under any parallelism (no "first seen" nondeterminism; SURVEY.md §7.4).

Per-occurrence provenance table (the analog of the reference's per-edge
CALLS properties (line_number, args[], full_call_name),
``graph_builder.py:302-329`` — one Neo4j edge per call SITE, not per pair):
    edge_occurrences(subj_id, pred, obj_id, url, sent_id)
      one row per ASSERTION SITE; ``edges`` is exactly its
      groupBy(subj,pred,obj) rollup, so n_occurrences == the occurrence
      rows per key and "show me every sentence where A FOUNDED B" is a
      point lookup here instead of a re-derivation from checkpoint="all"
      intermediates.

Below the runner's merge cutover the runner rolls nodes and edges up on the
driver instead (``graph_nodes_table`` / ``edges_table``, pyarrow twins of
``graph_nodes`` / ``edges_from_occurrences``; the tests hold the two
equal). The Spark functions stay the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def materialize_graph(
    docs: DataFrame,
    triples: DataFrame,
    linked: DataFrame,
    canon: DataFrame,
    links: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (nodes, edges, edge_occurrences)."""
    occ = occurrences(triples, linked, canon, links)
    return graph_nodes(docs, canon, links), edges_from_occurrences(occ), occ


def graph_nodes(docs: DataFrame, canon: DataFrame, links: DataFrame) -> DataFrame:
    """The node table: one Page per doc, one Entity per canon cluster, one
    Domain per linked domain, one Type per entity type."""
    page_nodes = docs.select(
        F.col("url").alias("node_id"),
        F.lit("Page").alias("node_type"),
        F.col("url").alias("name"),
        F.lit(None).cast("string").alias("etype"),
        F.col("lang"),
    )
    entity_nodes = (
        canon.groupBy("entity_id")
        .agg(F.min("label").alias("name"), F.min("etype").alias("etype"))
        .select(
            F.col("entity_id").alias("node_id"),
            F.lit("Entity").alias("node_type"),
            "name",
            "etype",
            F.lit(None).cast("string").alias("lang"),
        )
    )
    domain_nodes = links.select("domain").distinct().select(
        F.col("domain").alias("node_id"),
        F.lit("Domain").alias("node_type"),
        F.col("domain").alias("name"),
        F.lit(None).cast("string").alias("etype"),
        F.lit(None).cast("string").alias("lang"),
    )
    type_nodes = canon.select("etype").distinct().select(
        F.concat(F.lit("type:"), F.col("etype")).alias("node_id"),
        F.lit("Type").alias("node_type"),
        F.col("etype").alias("name"),
        F.col("etype").alias("etype"),
        F.lit(None).cast("string").alias("lang"),
    )
    return (
        page_nodes.unionByName(entity_nodes)
        .unionByName(domain_nodes)
        .unionByName(type_nodes)
    )


def occurrences(
    triples: DataFrame, linked: DataFrame, canon: DataFrame, links: DataFrame
) -> DataFrame:
    """The edge_occurrences table: one row per assertion site. Every row
    derives from one url's own triples, linked mentions and links, plus
    canon, so a url's rows change only when those do."""
    resolved = linked.where(F.col("entity_id").isNotNull())
    mentions_e = resolved.select(
        F.col("url").alias("subj_id"),
        F.lit("MENTIONS").alias("pred"),
        F.col("entity_id").alias("obj_id"),
        "url",
        "sent_id",
    )
    links_e = links.select(
        F.col("url").alias("subj_id"),
        F.lit("LINKS_TO").alias("pred"),
        F.col("domain").alias("obj_id"),
        "url",
        F.lit(0).alias("sent_id"),
    )
    # open-predicate edges: join the triple rows back to their two resolved
    # slots. Join keys include the surface so a sentence holding several
    # triples never cross-products its subjects with another triple's objects.
    subj_r = resolved.where(F.col("role") == "subj").select(
        "url", "sent_id", F.col("surface").alias("subj_surface"),
        F.col("entity_id").alias("subj_eid"),
    ).distinct()
    obj_r = resolved.where(F.col("role") == "obj").select(
        "url", "sent_id", F.col("surface").alias("obj_surface"),
        F.col("entity_id").alias("obj_eid"),
    ).distinct()
    open_e = (
        triples.join(subj_r, on=["url", "sent_id", "subj_surface"])
        .join(obj_r, on=["url", "sent_id", "obj_surface"])
        .select(
            F.col("subj_eid").alias("subj_id"),
            "pred",
            F.col("obj_eid").alias("obj_id"),
            "url",
            "sent_id",
        )
    )
    # HAS_TYPE attribute edges: the entity's declared type, one occurrence per
    # definitional sentence (resolved role='def' mention joined to its
    # cluster's type) — the Parameter-node analog, queryable like any edge.
    canon_types = canon.select("entity_id", "etype").distinct()
    has_type_e = (
        resolved.where(F.col("role") == "def")
        .select("url", "sent_id", "entity_id")
        .join(F.broadcast(canon_types), on="entity_id")
        .select(
            F.col("entity_id").alias("subj_id"),
            F.lit("HAS_TYPE").alias("pred"),
            F.concat(F.lit("type:"), F.col("etype")).alias("obj_id"),
            "url",
            "sent_id",
        )
    )
    return (
        mentions_e.unionByName(links_e)
        .unionByName(open_e)
        .unionByName(has_type_e)
    )


def edges_from_occurrences(occurrences: DataFrame) -> DataFrame:
    """The deduplicated edge table is exactly the occurrence table's
    (subj, pred, obj) rollup. Split out so the runner can derive edges from
    the COMMITTED edge_occurrences parquet — the expensive triple-resolution
    joins upstream then run once, not once per output table."""
    return occurrences.groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min(F.struct("url", "sent_id")).alias("_prov"),
    ).select(
        "subj_id", "pred", "obj_id", "n_occurrences",
        F.col("_prov.url").alias("first_url"),
        F.col("_prov.sent_id").alias("first_sent_id"),
    )


def graph_nodes_table(docs, canon, links):
    """``graph_nodes`` over Arrow tables: docs(url, lang), canon(entity_id,
    label, etype) and links(domain) -> the node table's columns, unsorted
    and not yet cast to the Spark plan's schema."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def part(node_id, node_type, name, etype=None, lang=None):
        n = len(node_id)
        return pa.table({
            "node_id": node_id,
            "node_type": pa.array([node_type] * n, pa.string()),
            "name": name,
            "etype": pa.nulls(n, pa.string()) if etype is None else etype,
            "lang": pa.nulls(n, pa.string()) if lang is None else lang,
        })

    # min() over strings compares UTF-8 bytes, as Spark's does
    ents = canon.group_by("entity_id").aggregate([("label", "min"), ("etype", "min")])
    domains = pc.unique(links.column("domain"))
    etypes = pc.unique(canon.column("etype"))
    return pa.concat_tables([
        part(docs.column("url"), "Page", docs.column("url"), lang=docs.column("lang")),
        part(ents.column("entity_id"), "Entity", ents.column("label_min"),
             ents.column("etype_min")),
        part(domains, "Domain", domains),
        # a null etype gives a null id, as Spark's concat does
        part(pc.binary_join_element_wise("type:", etypes, ""), "Type", etypes, etypes),
    ])


def edges_table(occurrences):
    """``edges_from_occurrences`` over an Arrow table: one row per (subj_id,
    pred, obj_id) with the count of its occurrence rows and the minimum
    (url, sent_id) as first provenance (nulls first, as Spark's struct
    ordering has them)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = ["subj_id", "pred", "obj_id"]
    first = pc.ScalarAggregateOptions(skip_nulls=False)
    rolled = (
        occurrences.sort_by(
            [(c, "ascending") for c in (*keys, "url", "sent_id")],
            null_placement="at_start",
        )
        # "first" follows input order only on a single-threaded group_by
        .group_by(keys, use_threads=False)
        .aggregate([([], "count_all"), ("url", "first", first), ("sent_id", "first", first)])
    )
    return pa.table({
        **{k: rolled.column(k) for k in keys},
        "n_occurrences": rolled.column("count_all"),
        "first_url": rolled.column("url_first"),
        "first_sent_id": rolled.column("sent_id_first"),
    })
