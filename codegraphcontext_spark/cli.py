"""Command-line entry point — the ``spark-submit --py-files`` surface.

The reference is driven over MCP JSON-RPC (reference ``server.py:856-905``);
the batch engine is driven by spark-submit. One module, three subcommands:

    build        full pipeline pages -> nodes/edges (resumable; re-running
                 skips committed stages — the north rule's idempotent resume)
    incremental  fold a delta pages snapshot into a committed workdir
    query        run a read query over the materialized graph tables

Cluster launch (the --py-files path; locally the same module runs under
plain ``python -m codegraphcontext_spark.cli``):

    cd /root/repo && zip -qr /tmp/cgc.zip codegraphcontext_spark
    spark-submit --py-files /tmp/cgc.zip \
        --conf spark.sql.adaptive.enabled=true \
        -m codegraphcontext_spark.cli ... (or a thin driver .py)

On a real cluster, pass ``--master yarn/k8s`` etc.; the session config in
``session.py`` (AQE, skew join, Arrow) applies either way.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F


def _spark(args):
    from .session import get_spark

    return get_spark(
        app_name="codegraphcontext_spark",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
    )


def _read_stage(spark, workdir: str, stage: str):
    """A committed stage of ``workdir``, read with its footer schema."""
    from .pipeline.runner import read_stage

    return read_stage(spark, f"{workdir}/{stage}/data")


def cmd_build(args) -> int:
    from .pipeline.runner import PipelineRunner

    spark = _spark(args)
    runner = PipelineRunner(spark, args.pages, args.workdir)
    t0 = time.time()
    out = runner.run()
    n_nodes, n_edges = out["nodes"].count(), out["edges"].count()
    print(json.dumps({
        "status": "ok", "wall_s": round(time.time() - t0, 2),
        "n_nodes": n_nodes, "n_edges": n_edges,
        "stages": {k: v for k, v in runner.metrics.items()},
    }))
    return 0


def cmd_incremental(args) -> int:
    from .pipeline.runner import PipelineRunner

    spark = _spark(args)
    runner = PipelineRunner(spark, args.pages, args.workdir)
    t0 = time.time()
    out = runner.run_incremental(args.delta)
    print(json.dumps({
        "status": "ok", "wall_s": round(time.time() - t0, 2),
        "n_nodes": out["nodes"].count(), "n_edges": out["edges"].count(),
    }))
    return 0


# Open relation predicates = everything except the closed containment /
# attribute preds.
_CLOSED_PREDS = ("MENTIONS", "LINKS_TO", "HAS_TYPE")

SUPPORTED_QUERIES = (
    "who_references", "doc_references", "importers", "neighbors",
    "top_entities", "entities_by_type", "usage_scope", "class_hierarchy",
    "overrides", "dead_entities", "complexity", "cooccurrence",
    "all_referencers", "all_referenced", "call_chain", "edge_sentences",
    "related", "suggest", "fuzzy", "summary", "sources", "subgraph",
    "rules",
)


def _entity_ids(nodes, name):
    return nodes.where(
        (F.col("node_type") == "Entity") & (F.col("name") == name)
    ).select("node_id")


def _seeds(ids):
    """A node_id frame as frontier_bfs seeds, all under one source key."""
    return ids.select(F.lit(0).alias("source"), F.col("node_id").alias("node"))


def _closure(edges, nodes, seed, forward: bool, depth: int):
    """Bounded transitive closure over open-relation edges (Q15/Q16 analog,
    reference ``code_finder.py:449-493`` ``[:CALLS*]``): the kernel's
    frontier BFS from the seed entities, forward or backward. Returns the
    reached nodes (seeds excluded) with their first-visit depth."""
    from .queries.kernels import frontier_bfs

    src, dst = ("subj_id", "obj_id") if forward else ("obj_id", "subj_id")
    adj = edges.where(~F.col("pred").isin(*_CLOSED_PREDS)).select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    reached = frontier_bfs(adj, _seeds(seed), depth).where(F.col("depth") > 0)
    return (
        reached.select(F.col("node").alias("node_id"), "depth")
        .join(nodes.select("node_id", "name"), on="node_id")
        .select("node_id", "name", "depth")
        .orderBy("depth", "name", "node_id")
    )


def _ball(edges, seed, hops: int):
    """Node ids within ``hops`` undirected hops of ``seed`` (node_id),
    seeds included — the kernel's frontier BFS over both edge
    directions."""
    from .queries.kernels import frontier_bfs

    und = edges.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    ).unionByName(
        edges.select(F.col("obj_id").alias("src"), F.col("subj_id").alias("dst"))
    )
    return frontier_bfs(und, _seeds(seed), hops).select(
        F.col("node").alias("node_id")
    )


def cmd_query(args) -> int:
    """Read queries over a committed workdir's nodes/edges tables — the
    relationship-query dispatcher (reference ``code_finder.py:588-723``
    routes 15 handler types; unknown types get the same error contract with
    ``supported_types``).

    who_references <name>  -> pages mentioning the entity (Q8 analog);
                              --lang filters referencing pages, and an empty
                              strict result retries WITHOUT the filter (the
                              reference's fallback relaxation,
                              code_finder.py:192-212)
    doc_references <url>   -> entities a page mentions (Q9 find_callees
                              analog, code_finder.py:236-278)
    importers <domain>     -> pages linking to the domain (Q10
                              find_importers analog, code_finder.py:280-303)
    neighbors <name>       -> 1-hop edges from/to the entity
    top_entities           -> most-referenced entities (Q22-style top-k)
    entities_by_type <t>   -> entities carrying a HAS_TYPE edge to type t
                              (Q6/Q7 by-argument/decorator analog,
                              code_finder.py:120-168)
    usage_scope <name>     -> CASE scope classification of every edge
                              touching the entity (Q11/Q19 analog,
                              code_finder.py:305-334,555-586)
    class_hierarchy <name> -> typed-relation neighborhood, both directions
                              (Q12 analog, code_finder.py:336-391)
    overrides <name>       -> every entity sharing the surface name, with
                              type + reference mass (Q13 analog,
                              code_finder.py:393-412)
    dead_entities          -> entities never targeted by an open relation
                              (Q14 analog, code_finder.py:414-447)
    complexity             -> most extraction-rich pages (Q21/Q22
                              find_complexity analog, code_finder.py:725-756)
    cooccurrence <name>    -> entities sharing pages with <name>
                              (Q18 analog, code_finder.py:522-553)
    all_referencers <name> -> bounded transitive closure of open-relation
                              referencers (Q15 find_all_callers analog,
                              code_finder.py:449-470); --depth bounds hops
    all_referenced <name>  -> forward closure (Q16, code_finder.py:472-493)
    call_chain "a->b"      -> bounded chains between two entities over open
                              relations, shortest first (Q17 analog incl.
                              the '->' target parse, code_finder.py:495-520,
                              679-692); --depth is the reference's max_depth
    edge_sentences "a->b"  -> every (page, sentence) site asserting an open
                              relation from a to b, from the materialized
                              edge_occurrences table (per-call-site edge
                              properties analog, graph_builder.py:302-329)
    related <name>         -> personalized-PageRank relatedness from the
                              seed entity (seed-conditioned upgrade of the
                              find_related_code rank fusion,
                              code_finder.py:81-118)
    suggest <name>         -> link prediction: entities NOT yet connected
                              to the seed by any open relation, ranked by
                              the shared-witness resource-allocation score
                              (KG-completion counterpart of `related`)
    fuzzy <needle>         -> typo-tolerant entity-name lookup by padded-
                              trigram Jaccard (the reference's Lucene
                              `name~` fuzzy query, graph_builder.py:81-85 /
                              code_finder.py:18-30)
    summary <name>         -> the entity's most informative facts, ranked
                              by inverse global (pred, obj) frequency
                              (entity-card view; kg_entity_summary twin)
    sources "a->b"         -> per-predicate citation list: attestation
                              counts + first-5 sorted URLs asserting the
                              fact (kg_fact_sources twin)
    subgraph <name>        -> 2-hop undirected induced open-relation edge
                              set around the entity (GraphRAG evidence
                              cut; kg_entity_subgraph twin); --depth
                              overrides the radius
    rules                  -> AMIE-style predicate implication rules over
                              the committed graph: same-direction and
                              inverse rules with support + confidence
                              (kg_rule_mining twin over this workdir)
    """
    if args.query not in SUPPORTED_QUERIES:
        print(json.dumps({
            "error": f"unknown query type {args.query!r}",
            "supported_types": list(SUPPORTED_QUERIES),
        }), file=sys.stderr)
        return 2
    spark = _spark(args)
    nodes = _read_stage(spark, args.workdir, "nodes")
    edges = _read_stage(spark, args.workdir, "edges")
    name = (args.arg or "").lower()
    if args.query == "who_references":
        ent = _entity_ids(nodes, name).withColumnRenamed("node_id", "obj_id")
        base = (
            edges.join(F.broadcast(ent), on="obj_id")
            .where(F.col("pred") == "MENTIONS")
            .select("subj_id", "n_occurrences")
        )
        def _with_lang(df, lang):
            if not lang:
                return df
            pages = nodes.where(
                (F.col("node_type") == "Page") & (F.col("lang") == lang)
            ).select(F.col("node_id").alias("subj_id"))
            return df.join(pages, on="subj_id", how="left_semi")
        res = (
            _with_lang(base, args.lang)
            .orderBy(F.desc("n_occurrences"), F.asc("subj_id"))
            .limit(args.limit)
        )
        rows = res.collect()
        if not rows and args.lang:
            # fallback relaxation: the exact (filtered) query came back
            # empty — retry without the narrowing filter, as the reference
            # does for find_callers with a file filter
            rows = (
                base.orderBy(F.desc("n_occurrences"), F.asc("subj_id"))
                .limit(args.limit)
                .collect()
            )
            print(json.dumps({"note": f"no results for lang={args.lang!r}; "
                              "retried without the filter"}), file=sys.stderr)
        for row in rows:
            print(json.dumps(row.asDict()))
        return 0
    if args.query == "neighbors":
        # broadcast semi-join on each endpoint (NOT a driver-side
        # collect/isin — the point lookup stays distributed)
        ent = F.broadcast(_entity_ids(nodes, name))
        out_e = edges.join(
            ent.withColumnRenamed("node_id", "subj_id"), on="subj_id",
            how="left_semi",
        )
        in_e = edges.join(
            ent.withColumnRenamed("node_id", "obj_id"), on="obj_id",
            how="left_semi",
        )
        res = (
            out_e.unionByName(in_e)
            .select("subj_id", "pred", "obj_id", "n_occurrences")
            .dropDuplicates(["subj_id", "pred", "obj_id"])
            .orderBy("pred", "subj_id", "obj_id")
            .limit(args.limit)
        )
    elif args.query == "top_entities":
        res = (
            edges.where(F.col("pred") == "MENTIONS")
            .groupBy("obj_id")
            .agg(F.sum("n_occurrences").alias("n_refs"))
            .join(nodes.withColumnRenamed("node_id", "obj_id"), on="obj_id")
            .select("name", "etype", "n_refs")
            .orderBy(F.desc("n_refs"), F.asc("name"))
            .limit(args.limit)
        )
    elif args.query == "class_hierarchy":
        ent = F.broadcast(_entity_ids(nodes, name))
        open_e = edges.where(~F.col("pred").isin(*_CLOSED_PREDS))
        names = nodes.select("node_id", F.col("name").alias("other"))
        out_e = (
            open_e.join(ent.withColumnRenamed("node_id", "subj_id"), on="subj_id")
            .join(names.withColumnRenamed("node_id", "obj_id"), on="obj_id")
            .select(F.lit("out").alias("direction"), "pred", "other",
                    "n_occurrences")
        )
        in_e = (
            open_e.join(ent.withColumnRenamed("node_id", "obj_id"), on="obj_id")
            .join(names.withColumnRenamed("node_id", "subj_id"), on="subj_id")
            .select(F.lit("in").alias("direction"), "pred", "other",
                    "n_occurrences")
        )
        res = (
            out_e.unionByName(in_e)
            .orderBy("direction", "pred", "other")
            .limit(args.limit)
        )
    elif args.query == "dead_entities":
        targets = (
            edges.where(~F.col("pred").isin(*_CLOSED_PREDS))
            .select(F.col("obj_id").alias("node_id"))
            .distinct()
        )
        res = (
            nodes.where(F.col("node_type") == "Entity")
            .join(targets, on="node_id", how="left_anti")
            .select("name", "etype")
            .orderBy("name")
            .limit(args.limit)
        )
    elif args.query == "cooccurrence":
        ent = F.broadcast(_entity_ids(nodes, name))
        m = edges.where(F.col("pred") == "MENTIONS").select(
            F.col("subj_id").alias("page"), "obj_id"
        )
        pages = m.join(
            ent.withColumnRenamed("node_id", "obj_id"), on="obj_id",
            how="left_semi",
        ).select("page").distinct()
        res = (
            m.join(F.broadcast(pages), on="page")
            .join(nodes.withColumnRenamed("node_id", "obj_id"), on="obj_id")
            .where(F.col("name") != name)
            .groupBy("name")
            .agg(F.countDistinct("page").alias("n_pages"))
            .orderBy(F.desc("n_pages"), F.asc("name"))
            .limit(args.limit)
        )
    elif args.query == "related":
        # personalized-PageRank relatedness from the seed entity (the
        # seed-conditioned upgrade of cooccurrence; random walk with
        # restart, all restart/dangling mass back to the seed)
        from .queries.graph_queries import pagerank_ranks

        seed = _entity_ids(nodes, name).head()
        if seed is None:
            print(json.dumps({"error": f"no entity named {name!r}"}),
                  file=sys.stderr)
            return 2
        res = (
            pagerank_ranks(nodes, edges, seed.node_id)
            .where((F.col("rank") > 0) & (F.col("node_id") != seed.node_id))
            .join(
                nodes.select("node_id", "name", "node_type"), on="node_id"
            )
            .select("name", "node_type", F.col("rank").alias("ppr_rank"))
            .orderBy(F.desc("ppr_rank"), F.asc("name"))
            .limit(args.limit)
        )
    elif args.query == "suggest":
        # link prediction from the seed: shared-witness resource-allocation
        # score over the open subgraph, existing neighbors anti-joined away
        from .queries.graph_queries import aa_suggest

        seed = _entity_ids(nodes, name).head()
        if seed is None:
            print(json.dumps({"error": f"no entity named {name!r}"}),
                  file=sys.stderr)
            return 2
        res = (
            aa_suggest(edges, seed.node_id)
            .join(nodes.select("node_id", "name", "node_type"), on="node_id")
            .select("name", "node_type", "aa_score_x1e6")
            .orderBy(F.desc("aa_score_x1e6"), F.asc("name"))
            .limit(args.limit)
        )
    elif args.query == "doc_references":
        # page urls are node ids verbatim — don't lowercase the arg
        res = (
            edges.where(
                (F.col("subj_id") == args.arg)
                & (F.col("pred") == "MENTIONS")
            )
            .join(nodes.withColumnRenamed("node_id", "obj_id"), on="obj_id")
            .select(F.col("name").alias("entity"), "etype", "n_occurrences")
            .orderBy(F.desc("n_occurrences"), F.asc("entity"))
            .limit(args.limit)
        )
    elif args.query == "importers":
        res = (
            edges.where(
                (F.col("pred") == "LINKS_TO") & (F.col("obj_id") == args.arg)
            )
            .select(F.col("subj_id").alias("page"), "n_occurrences")
            .orderBy(F.desc("n_occurrences"), F.asc("page"))
            .limit(args.limit)
        )
    elif args.query == "entities_by_type":
        res = (
            edges.where(
                (F.col("pred") == "HAS_TYPE")
                & (F.col("obj_id") == f"type:{name}")
            )
            .join(nodes.withColumnRenamed("node_id", "subj_id"), on="subj_id")
            .select(F.col("name").alias("entity"), "n_occurrences")
            .orderBy(F.desc("n_occurrences"), F.asc("entity"))
            .limit(args.limit)
        )
    elif args.query == "usage_scope":
        ent = F.broadcast(_entity_ids(nodes, name))
        as_obj = edges.join(
            ent.withColumnRenamed("node_id", "obj_id"), on="obj_id"
        ).select(
            F.when(F.col("pred") == "MENTIONS", "page_mention")
            .otherwise("relation_object").alias("scope"),
            "pred", "n_occurrences",
        )
        as_subj = edges.join(
            ent.withColumnRenamed("node_id", "subj_id"), on="subj_id"
        ).select(
            F.when(F.col("pred") == "HAS_TYPE", "typed")
            .otherwise("relation_subject").alias("scope"),
            "pred", "n_occurrences",
        )
        res = (
            as_obj.unionByName(as_subj)
            .groupBy("scope", "pred")
            .agg(F.sum("n_occurrences").alias("n_occ"))
            .orderBy(F.desc("n_occ"), F.asc("scope"), F.asc("pred"))
            .limit(args.limit)
        )
    elif args.query == "fuzzy":
        # typo-tolerant entity-name lookup (the reference's Lucene `name~`
        # fuzzy query, graph_builder.py:81-85 / code_finder.py:18-30):
        # padded-trigram Jaccard against the dictionary-sized Entity
        # dimension — one narrow broadcast-scored pass, no explode
        from .queries.driver_queries import fuzzy_rank

        ents = nodes.where(F.col("node_type") == "Entity").select(
            "name", "etype"
        )
        res = (
            fuzzy_rank(ents, "name", [name], 200_000, args.limit)
            .select("name", "etype", "jaccard_x1e6")
            .orderBy(F.desc("jaccard_x1e6"), F.asc("name"))
        )
    elif args.query == "overrides":
        refs = (
            edges.where(F.col("pred") == "MENTIONS")
            .groupBy("obj_id")
            .agg(F.sum("n_occurrences").alias("n_refs"))
            .withColumnRenamed("obj_id", "node_id")
        )
        res = (
            nodes.where(
                (F.col("node_type") == "Entity") & (F.col("name") == name)
            )
            .join(refs, on="node_id", how="left")
            .select(
                "node_id", "etype",
                F.coalesce("n_refs", F.lit(0)).alias("n_refs"),
            )
            .orderBy(F.desc("n_refs"), F.asc("node_id"))
            .limit(args.limit)
        )
    elif args.query == "complexity":
        res = (
            edges.groupBy("subj_id")
            .agg(
                F.sum("n_occurrences").alias("n_facts"),
                F.countDistinct("pred").alias("n_preds"),
            )
            .join(
                nodes.where(F.col("node_type") == "Page")
                .select(F.col("node_id").alias("subj_id")),
                on="subj_id", how="left_semi",
            )
            .orderBy(F.desc("n_facts"), F.asc("subj_id"))
            .limit(args.limit)
        )
    elif args.query in ("all_referencers", "all_referenced"):
        forward = args.query == "all_referenced"
        res = _closure(
            edges, nodes, _entity_ids(nodes, name), forward, args.depth
        ).limit(args.limit)
    elif args.query == "edge_sentences":
        # per-site provenance: every (page, sentence) asserting subj->obj
        # over any open predicate — served from the materialized
        # edge_occurrences table (the reference keeps per-call-site
        # properties on each CALLS edge, graph_builder.py:302-329), so no
        # checkpoint='all' intermediates are needed. Both endpoint lookups
        # are broadcast semi-joins; the occurrence scan prunes on the
        # sorted (subj_id, pred, obj_id) layout.
        if "->" not in (args.arg or ""):
            print(json.dumps({
                "error": "for edge_sentences queries, use format "
                         "'subj_entity->obj_entity'",
                "example": "ada lovelace->acme corp",
            }), file=sys.stderr)
            return 2
        a, b = (s.strip().lower() for s in args.arg.split("->", 1))
        occ = _read_stage(spark, args.workdir, "edge_occurrences")
        subj = F.broadcast(
            _entity_ids(nodes, a).withColumnRenamed("node_id", "subj_id")
        )
        obj = F.broadcast(
            _entity_ids(nodes, b).withColumnRenamed("node_id", "obj_id")
        )
        res = (
            occ.where(~F.col("pred").isin(*_CLOSED_PREDS))
            .join(subj, on="subj_id", how="left_semi")
            .join(obj, on="obj_id", how="left_semi")
            .select("pred", "url", "sent_id")
            .orderBy(F.asc("pred"), F.asc("url"), F.asc("sent_id"))
            .limit(args.limit)
        )
    elif args.query == "summary":
        # top-informative facts for the entity: its open-relation facts
        # ranked by inverse global (pred, obj) frequency — the entity-card
        # view (RELIN/FACES lineage; kg_entity_summary is the whole-graph
        # oracle twin). The frequency table aggregates map-side; the
        # entity probe is a broadcast semi-pattern join.
        t = (
            edges.where(~F.col("pred").isin(*_CLOSED_PREDS))
            .select("subj_id", "pred", "obj_id")
            .distinct()
        )
        total = t.count()
        po = t.groupBy("pred", "obj_id").agg(F.count(F.lit(1)).alias("cnt"))
        ent = F.broadcast(
            _entity_ids(nodes, name).withColumnRenamed("node_id", "subj_id")
        )
        res = (
            t.join(ent, on="subj_id")
            .join(po, on=["pred", "obj_id"])
            .join(
                nodes.select(
                    F.col("node_id").alias("obj_id"),
                    F.col("name").alias("obj"),
                ),
                on="obj_id",
            )
            .select(
                "pred",
                "obj",
                F.expr(f"CAST({total}L * 1000000L div cnt AS BIGINT)").alias(
                    "ifreq_x1e6"
                ),
            )
            .orderBy(F.desc("ifreq_x1e6"), F.asc("pred"), F.asc("obj"))
            .limit(args.limit)
        )
    elif args.query == "sources":
        # per-fact citation list: which pages assert subj->obj, per
        # predicate (kg_fact_sources is the whole-graph oracle twin; the
        # reference keeps per-call-site properties on CALLS edges)
        if "->" not in (args.arg or ""):
            print(json.dumps({
                "error": "for sources queries, use format "
                         "'subj_entity->obj_entity'",
                "example": "ada lovelace->acme corp",
            }), file=sys.stderr)
            return 2
        a, b = (s.strip().lower() for s in args.arg.split("->", 1))
        occ = _read_stage(spark, args.workdir, "edge_occurrences")
        subj = F.broadcast(
            _entity_ids(nodes, a).withColumnRenamed("node_id", "subj_id")
        )
        obj = F.broadcast(
            _entity_ids(nodes, b).withColumnRenamed("node_id", "obj_id")
        )
        res = (
            occ.where(~F.col("pred").isin(*_CLOSED_PREDS))
            .join(subj, on="subj_id", how="left_semi")
            .join(obj, on="obj_id", how="left_semi")
            .groupBy("pred")
            .agg(
                F.count(F.lit(1)).alias("n_sites"),
                F.countDistinct("url").alias("n_urls"),
                F.array_join(
                    F.slice(F.array_sort(F.collect_set("url")), 1, 5), ", "
                ).alias("sources"),
            )
            .orderBy(F.asc("pred"))
            .limit(args.limit)
        )
    elif args.query == "rules":
        # rule mining over THIS workdir's committed edges (the oracle-
        # checked kg_rule_mining core; --limit caps the rule list)
        from .queries.graph_queries import rule_frame

        res = rule_frame(edges, limit=args.limit)
    elif args.query == "subgraph":
        # 2-hop undirected induced edge set around the entity — the
        # GraphRAG evidence cut (kg_entity_subgraph is the oracle twin).
        # Frontier BFS; the frontier stays dictionary-sized.
        from .queries.kernels import pin

        t = pin(
            edges.where(~F.col("pred").isin(*_CLOSED_PREDS))
            .select("subj_id", "pred", "obj_id")
            .distinct()
        )
        keep = F.broadcast(_ball(t, _entity_ids(nodes, name), args.depth or 2))
        names_df = nodes.select("node_id", "name")
        res = (
            t.join(
                keep.withColumnRenamed("node_id", "subj_id"), on="subj_id",
                how="left_semi",
            )
            .join(
                keep.withColumnRenamed("node_id", "obj_id"), on="obj_id",
                how="left_semi",
            )
            .join(
                names_df.withColumnRenamed("node_id", "subj_id"),
                on="subj_id",
            )
            .withColumnRenamed("name", "subj")
            .join(
                names_df.withColumnRenamed("node_id", "obj_id"), on="obj_id"
            )
            .withColumnRenamed("name", "obj")
            .select("subj", "pred", "obj")
            .orderBy(F.asc("subj"), F.asc("pred"), F.asc("obj"))
            .limit(args.limit)
        )
    else:  # call_chain
        if "->" not in (args.arg or ""):
            print(json.dumps({
                "error": "for call_chain queries, use format "
                         "'start_entity->end_entity'",
                "example": "acme corp->globex",
            }), file=sys.stderr)
            return 2
        from .queries.graph_queries import call_chain

        a, b = (s.strip().lower() for s in args.arg.split("->", 1))
        res = call_chain(
            edges, nodes, _entity_ids(nodes, a), _entity_ids(nodes, b),
            args.depth,
        ).limit(args.limit)
    for row in res.collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_delete(args) -> int:
    from .pipeline.runner import PipelineRunner

    spark = _spark(args)
    runner = PipelineRunner(spark, args.pages, args.workdir)
    t0 = time.time()
    out = runner.run_delete(args.prefix)
    print(json.dumps({
        "status": "ok", "wall_s": round(time.time() - t0, 2),
        "n_nodes": out["nodes"].count(), "n_edges": out["edges"].count(),
    }))
    return 0


def cmd_curate(args) -> int:
    """Training-data curation chain over a documents table: exact dedup ->
    MinHash-LSH near-dup dedup -> quality threshold -> repetition ceiling
    -> language allowlist -> optional source balancing -> PII redaction
    -> curated parquet + stats (see curate.py for stage semantics)."""
    from .curate import curate_documents

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    stats = curate_documents(
        spark,
        docs,
        args.out,
        jaccard=args.jaccard,
        min_quality=args.min_quality,
        max_rep3=args.max_rep3,
        langs=args.langs.split(",") if args.langs else None,
        redact_pii=not args.no_pii_redact,
        balance_sources=args.balance_sources,
    )
    print(json.dumps(stats))
    return 0


def cmd_status(args) -> int:
    """Job-status surface (J5; reference ``server.py:700-772``
    check_job_status/list_jobs): read the per-stage manifests + lineage the
    runner commits — pure driver-side metadata, no Spark session needed.
    Each manifest is printed whole: a url-partitioned stage carries its
    ``n_buckets``, and a stage a fold or delete rewrote also what the swap
    did (``wall_ms``, ``rewritten_files``, ``linked_files``). A global
    stage (canon, linked, nodes, edges, edge_occurrences) a fold or delete
    rebuilt records which tail did it, ``globals``: ``"scoped"`` (canon
    kept, the delta's mentions relinked; linked and edge_occurrences then
    also carry ``rewritten_files`` / ``linked_files``) or
    ``"recomputed"``. nodes and edges record which branch rolled them up,
    ``rollup``: ``"pyarrow"`` (on the driver, below the runner's merge
    cutover) or ``"spark"``."""
    import os

    stages = []
    for stage in sorted(os.listdir(args.workdir)):
        mpath = os.path.join(args.workdir, stage, "manifest.json")
        if not os.path.isfile(mpath):
            continue
        with open(mpath) as f:
            m = json.load(f)
        # one lineage.parquet per stage whose ROWS are the partitions
        lineage = os.path.join(args.workdir, stage, "lineage", "lineage.parquet")
        if os.path.isfile(lineage):
            import pyarrow.parquet as pq

            m["n_partitions"] = pq.ParquetFile(lineage).metadata.num_rows
        else:
            m["n_partitions"] = 0
        stages.append(m)
    ingested_p = os.path.join(args.workdir, "_ingested.json")
    ingested = []
    if os.path.exists(ingested_p):
        with open(ingested_p) as f:
            ingested = json.load(f)
    print(json.dumps({
        "workdir": args.workdir,
        "n_stages_committed": len(stages),
        "ingested_deltas": len(ingested),
        "stages": stages,
    }))
    return 0


# Write/DDL keywords rejected by the read-only SQL surface (the reference's
# blocklist, server.py:332-345, applied after stripping string literals so a
# literal containing "delete" doesn't false-positive).
_SQL_WRITE_KEYWORDS = (
    "insert", "update", "delete", "drop", "create", "alter", "merge",
    "truncate", "replace", "grant", "revoke", "set", "refresh", "cache",
    "uncache", "load", "copy", "call", "analyze", "msck",
)


def _reject_non_select(sql: str) -> str | None:
    """Returns an error message for non-read-only SQL, else None."""
    import re

    stripped = re.sub(r"'[^']*'|\"[^\"]*\"|`[^`]*`", "''", sql)
    words = re.findall(r"[a-zA-Z_]+", stripped.lower())
    if not words or words[0] not in ("select", "with"):
        return "only SELECT/WITH queries are allowed"
    bad = sorted(set(words) & set(_SQL_WRITE_KEYWORDS))
    if bad:
        return f"write keywords not allowed: {', '.join(bad)}"
    return None


def cmd_export(args) -> int:
    """Graph export sink (the reference pushes its graph into Neo4j; this
    hands node/edge files to the next system): distributed jsonl/csv write,
    one file per partition unless --single-file."""
    from .sources.graph_export import export_graph

    spark = _spark(args)
    counts = export_graph(
        spark, args.workdir, args.out, fmt=args.format,
        single_file=args.single_file,
    )
    print(json.dumps({"out": args.out, "format": args.format, **counts}))
    return 0


def cmd_warehouse(args) -> int:
    """Re-lay the materialized graph as bucketed+sorted warehouse tables
    (``pipeline/warehouse.py``): pays the edge-table shuffle ONCE at write
    time so every later bucket-key join plans Exchange-free — the analog of
    the reference building its persistent indexes once at startup
    (``graph_builder.py:81-96``)."""
    from .pipeline.warehouse import write_bucketed_graph

    spark = _spark(args)
    nodes = _read_stage(spark, args.workdir, "nodes")
    edges = _read_stage(spark, args.workdir, "edges")
    write_bucketed_graph(
        spark, nodes, edges, db=args.db,
        n_buckets=args.buckets, location=args.location,
    )
    print(json.dumps({
        "db": args.db, "n_buckets": args.buckets,
        "nodes": spark.table(f"{args.db}.nodes").count(),
        "edges": spark.table(f"{args.db}.edges").count(),
    }))
    return 0


def cmd_layout(args) -> int:
    """Rewrite a parquet table Z-order-clustered on the given columns
    (``pipeline/layout.py``): pays one range shuffle at write time so
    selective scans on ANY layout column skip most row groups via parquet
    min/max stats — the scan-side twin of ``warehouse``'s join-side
    bucketing. Prints the written file count and the measured min/max
    overlap fraction per layout column for a mid-range probe band."""
    from .pipeline.layout import overlap_fraction, zorder_layout

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    cols = [c.strip() for c in args.cols.split(",") if c.strip()]
    missing = [c for c in cols if c not in df.columns]
    if missing:
        print(json.dumps({"error": f"unknown columns: {missing}"}))
        return 2
    n_files = zorder_layout(
        df, cols, args.out, target_rows_per_file=args.rows_per_file
    )
    from pyspark.sql import functions as F

    probes = {}
    for c in cols:
        t = df.schema[c].dataType.typeName()
        if t in ("timestamp", "timestamp_ntz") or t in (
            "bigint", "long", "int", "integer", "double", "float",
        ):
            lo, hi = df.agg(F.min(c), F.max(c)).collect()[0]
            if lo is not None and hi != lo:
                # probe band: middle 2% of the value range
                a = lo + (hi - lo) * 49 // 100 if t not in (
                    "timestamp", "timestamp_ntz", "double", "float"
                ) else lo + (hi - lo) * 0.49
                b = lo + (hi - lo) * 51 // 100 if t not in (
                    "timestamp", "timestamp_ntz", "double", "float"
                ) else lo + (hi - lo) * 0.51
                probes[c] = round(overlap_fraction(args.out, c, a, b), 3)
    print(json.dumps({"out": args.out, "n_files": n_files, "cols": cols,
                      "overlap_probe": probes}))
    return 0


def cmd_compact(args) -> int:
    """Bin-pack a fragmented parquet directory into ~target-byte files
    (``pipeline/layout.py:compact_small_files``) — the maintenance job
    streaming sinks and incremental appends make necessary at scale.
    Prints the before/after file counts and total bytes."""
    from .pipeline.layout import compact_small_files

    spark = _spark(args)
    stats = compact_small_files(
        spark, args.input, args.out, target_bytes=args.target_bytes
    )
    print(json.dumps({"out": args.out, **stats}))
    return 0


def cmd_sql(args) -> int:
    """Read-only SQL passthrough over the materialized graph (S9 analog;
    reference ``server.py:319-373`` execute_cypher_query with write-keyword
    blocklist). Views registered: nodes, edges, docs."""
    err = _reject_non_select(args.sql)
    if err:
        print(json.dumps({"error": err}), file=sys.stderr)
        return 2
    spark = _spark(args)
    _read_stage(spark, args.workdir, "nodes").createOrReplaceTempView("nodes")
    _read_stage(spark, args.workdir, "edges").createOrReplaceTempView("edges")
    docs_path = f"{args.workdir}/docs/data"
    import os

    if os.path.isdir(docs_path):
        _read_stage(spark, args.workdir, "docs").createOrReplaceTempView("docs")
    res = spark.sql(args.sql)
    for row in res.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_dot(args) -> int:
    """DOT subgraph export (S8; reference
    ``examples/export_dot_subgraph.py:51-136``): seed entities matched by
    name substring, expanded 2 hops over the edge table, emitted as
    Graphviz. Each hop is a broadcast semi-join frontier expansion; the
    driver only streams the final bounded edge list (toLocalIterator)."""
    spark = _spark(args)
    rows, names = _subgraph(
        spark, args.workdir, args.arg or "", args.hops, args.limit
    )

    def q(s: str) -> str:
        return '"' + s.replace('"', r"\"") + '"'

    lines = ["digraph G {"]
    used = set()
    for r in rows:
        used.add(r.subj_id)
        used.add(r.obj_id)
    for nid in sorted(used):
        label, ntype = names.get(nid, (nid, "?"))
        shape = {"Entity": "ellipse", "Page": "box", "Domain": "diamond"}.get(
            ntype, "ellipse"
        )
        lines.append(f"  {q(nid)} [label={q(label)} shape={shape}];")
    for r in rows:
        lines.append(f"  {q(r.subj_id)} -> {q(r.obj_id)} [label={q(r.pred)}];")
    lines.append("}")
    print("\n".join(lines))
    return 0


def _subgraph(spark, workdir: str, seed_substring: str, hops: int, limit: int):
    """Shared seed-match -> k-hop expand used by dot + visualize: returns
    (edge rows, {node_id: (name, node_type)})."""
    nodes = _read_stage(spark, workdir, "nodes")
    edges = _read_stage(spark, workdir, "edges")
    seed = (
        nodes.where(
            (F.col("node_type") == "Entity")
            & F.col("name").contains(seed_substring.lower())
        )
        .select("node_id")
    )
    member_ids = _ball(edges, seed, hops)
    sub_edges = (
        edges.join(
            F.broadcast(member_ids.withColumnRenamed("node_id", "subj_id")),
            on="subj_id", how="left_semi",
        )
        .join(
            F.broadcast(member_ids.withColumnRenamed("node_id", "obj_id")),
            on="obj_id", how="left_semi",
        )
        .select("subj_id", "pred", "obj_id")
        .orderBy("subj_id", "pred", "obj_id")
        .limit(limit)
    )
    names = {
        r.node_id: (r.name, r.node_type)
        for r in nodes.join(
            F.broadcast(member_ids), on="node_id", how="left_semi"
        ).select("node_id", "name", "node_type").collect()
    }
    return list(sub_edges.toLocalIterator()), names


_VIZ_TEMPLATE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>codegraphcontext_spark graph</title>
<style>body{margin:0;font:12px sans-serif}svg{width:100vw;height:100vh}
line{stroke:#bbb}text{pointer-events:none}
.Entity{fill:#4a7dbd}.Page{fill:#74a55c}.Domain{fill:#c78f3d}.Type{fill:#9a6fb5}
</style></head><body><svg id="g"></svg><script>
const DATA = __DATA__;
// tiny deterministic force layout (no external libs; runs offline)
const N = DATA.nodes, E = DATA.edges, idx = {};
N.forEach((n, i) => {
  idx[n.id] = i;
  const a = 2 * Math.PI * i / N.length;
  n.x = 480 + 380 * Math.cos(a); n.y = 360 + 300 * Math.sin(a);
});
for (let it = 0; it < 150; it++) {
  for (const e of E) {
    const s = N[idx[e.s]], t = N[idx[e.t]];
    const dx = t.x - s.x, dy = t.y - s.y, d = Math.hypot(dx, dy) || 1;
    const f = (d - 90) * 0.01;
    s.x += f * dx / d; s.y += f * dy / d; t.x -= f * dx / d; t.y -= f * dy / d;
  }
  for (const a of N) for (const b of N) {
    if (a === b) continue;
    const dx = b.x - a.x, dy = b.y - a.y, d2 = dx * dx + dy * dy || 1;
    if (d2 < 8100) { a.x -= 120 * dx / d2; a.y -= 120 * dy / d2; }
  }
}
const svg = document.getElementById("g");
svg.setAttribute("viewBox", "0 0 960 720");
const mk = (t, a) => { const el =
  document.createElementNS("http://www.w3.org/2000/svg", t);
  for (const k in a) el.setAttribute(k, a[k]); svg.appendChild(el); return el; };
for (const e of E) {
  const s = N[idx[e.s]], t = N[idx[e.t]];
  mk("line", {x1: s.x, y1: s.y, x2: t.x, y2: t.y});
}
for (const n of N) {
  mk("circle", {cx: n.x, cy: n.y, r: 6, class: n.type});
  mk("text", {x: n.x + 8, y: n.y + 4}).textContent = n.label;
}
</script></body></html>
"""


def cmd_visualize(args) -> int:
    """Self-contained HTML graph view (Q24 analog; the reference emits a
    Neo4j-browser deep link, ``server.py:455-472`` — with no graph server
    here, the artifact is a single offline HTML file with the subgraph
    embedded as JSON and a dependency-free SVG force layout)."""
    spark = _spark(args)
    rows, names = _subgraph(
        spark, args.workdir, args.arg or "", args.hops, args.limit
    )
    used = sorted({r.subj_id for r in rows} | {r.obj_id for r in rows})
    data = {
        "nodes": [
            {
                "id": nid,
                "label": names.get(nid, (nid, "?"))[0],
                "type": names.get(nid, (nid, "?"))[1],
            }
            for nid in used
        ],
        "edges": [
            {"s": r.subj_id, "p": r.pred, "t": r.obj_id} for r in rows
        ],
    }
    html = _VIZ_TEMPLATE.replace("__DATA__", json.dumps(data))
    with open(args.out, "w") as f:
        f.write(html)
    print(json.dumps({
        "out": args.out, "n_nodes": len(data["nodes"]),
        "n_edges": len(data["edges"]),
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="codegraphcontext_spark")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="run the full KG pipeline")
    b.add_argument("--pages", required=True)
    b.add_argument("--workdir", required=True)
    b.set_defaults(fn=cmd_build)

    i = sub.add_parser("incremental", help="fold a delta snapshot in")
    i.add_argument("--pages", required=True, help="base pages path (of the committed build)")
    i.add_argument("--delta", required=True)
    i.add_argument("--workdir", required=True)
    i.set_defaults(fn=cmd_incremental)

    q = sub.add_parser("query", help="query the materialized graph")
    q.add_argument("--workdir", required=True)
    q.add_argument("query")
    q.add_argument("arg", nargs="?", default="")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--lang", default=None,
                   help="who_references: restrict to pages of this lang "
                        "(empty strict result retries unfiltered)")
    q.add_argument("--depth", type=int, default=3,
                   help="all_referencers/all_referenced/call_chain: max hops "
                        "(the reference's max_depth, code_finder.py:495)")
    q.set_defaults(fn=cmd_query)

    dl = sub.add_parser("delete", help="delete pages by url prefix (site/repo delete + GC)")
    dl.add_argument("--pages", required=True, help="base pages path (of the committed build)")
    dl.add_argument("--workdir", required=True)
    dl.add_argument("--prefix", required=True, help="url prefix to delete")
    dl.set_defaults(fn=cmd_delete)

    cu = sub.add_parser("curate", help="dedup + quality + lang curation chain")
    cu.add_argument("--docs", required=True, help="documents parquet path")
    cu.add_argument("--out", required=True)
    cu.add_argument("--jaccard", type=float, default=0.8)
    cu.add_argument("--min-quality", type=int, default=600)
    cu.add_argument("--max-rep3", type=int, default=180,
                    help="duplicate-trigram char per-mille ceiling")
    cu.add_argument("--langs", default=None, help="comma-separated allowlist")
    cu.add_argument("--no-pii-redact", action="store_true",
                    help="skip the in-place PII redaction pass")
    cu.add_argument("--balance-sources", action="store_true",
                    help="down-sample each source toward the mean source "
                         "size (deterministic md5-nibble mixture rule)")
    cu.set_defaults(fn=cmd_curate)

    st = sub.add_parser("status", help="per-stage manifests + lineage summary")
    st.add_argument("--workdir", required=True)
    st.set_defaults(fn=cmd_status)

    ex = sub.add_parser("export", help="export nodes/edges to jsonl or csv")
    ex.add_argument("--workdir", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--format", choices=["jsonl", "csv"], default="jsonl")
    ex.add_argument("--single-file", action="store_true")
    ex.set_defaults(fn=cmd_export)

    wh = sub.add_parser("warehouse", help="bucketed co-located graph layout")
    wh.add_argument("--workdir", required=True)
    wh.add_argument("--db", default="graph")
    wh.add_argument("--buckets", type=int, default=16)
    wh.add_argument("--location", default=None)
    wh.set_defaults(fn=cmd_warehouse)

    ly = sub.add_parser(
        "layout", help="Z-order-cluster a parquet table for scan pruning"
    )
    ly.add_argument("--input", required=True, help="input parquet path")
    ly.add_argument("--out", required=True, help="output parquet path")
    ly.add_argument(
        "--cols", required=True, help="comma-separated layout columns"
    )
    ly.add_argument("--rows-per-file", type=int, default=250_000)
    ly.set_defaults(fn=cmd_layout)

    cp = sub.add_parser(
        "compact", help="bin-pack small parquet files to a byte target"
    )
    cp.add_argument("--input", required=True, help="input parquet path")
    cp.add_argument("--out", required=True, help="output parquet path")
    cp.add_argument(
        "--target-bytes", type=int, default=128 * 1024 * 1024,
        help="target bytes per output file (default 128 MiB)",
    )
    cp.set_defaults(fn=cmd_compact)

    sq = sub.add_parser("sql", help="read-only SQL over nodes/edges/docs views")
    sq.add_argument("--workdir", required=True)
    sq.add_argument("sql")
    sq.add_argument("--limit", type=int, default=100)
    sq.set_defaults(fn=cmd_sql)

    dt = sub.add_parser("dot", help="DOT subgraph export around seed entities")
    dt.add_argument("--workdir", required=True)
    dt.add_argument("arg", help="entity name substring (seed match)")
    dt.add_argument("--hops", type=int, default=2)
    dt.add_argument("--limit", type=int, default=200)
    dt.set_defaults(fn=cmd_dot)

    vz = sub.add_parser("visualize", help="self-contained HTML subgraph view")
    vz.add_argument("--workdir", required=True)
    vz.add_argument("arg", help="entity name substring (seed match)")
    vz.add_argument("--out", required=True, help="output .html path")
    vz.add_argument("--hops", type=int, default=2)
    vz.add_argument("--limit", type=int, default=200)
    vz.set_defaults(fn=cmd_visualize)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
