"""checkpoint='minimal' must produce the identical graph to checkpoint='all',
commit exactly {docs, linked, nodes, edges}, and resume from those."""

from __future__ import annotations

import os

import pytest

from codegraphcontext_spark.pipeline.runner import PipelineRunner


def _edge_set(edges):
    return {
        (r.subj_id, r.pred, r.obj_id, r.n_occurrences)
        for r in edges.select("subj_id", "pred", "obj_id", "n_occurrences").collect()
    }


@pytest.fixture(scope="module")
def minimal_run(spark, corpus_dir, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("wd_min"))
    runner = PipelineRunner(
        spark, os.path.join(corpus_dir, "pages.parquet"), wd, checkpoint="minimal"
    )
    return runner, runner.run(), wd


def test_minimal_matches_all(spark, corpus_dir, minimal_run, pipeline_out):
    _, out, _ = minimal_run
    assert _edge_set(out["edges"]) == _edge_set(pipeline_out["edges"])


def test_minimal_commits_only_core_stages(minimal_run):
    runner, _, wd = minimal_run
    committed = {d for d in os.listdir(wd)
                 if os.path.exists(os.path.join(wd, d, "manifest.json"))}
    assert committed == {"docs", "linked", "nodes", "edges", "edge_occurrences"}
    fused = {k for k, v in runner.metrics.items() if v.get("fused")}
    assert fused == {"sentences", "triples", "defs", "links", "canon"}
    # canon and links have no files to roll up on the driver: the graph
    # tail takes the Spark commits
    assert {s: runner.metrics[s]["rollup"] for s in ("nodes", "edges")} == {
        "nodes": "spark", "edges": "spark",
    }


def test_minimal_resumes(spark, corpus_dir, minimal_run):
    _, first, wd = minimal_run
    again = PipelineRunner(
        spark, os.path.join(corpus_dir, "pages.parquet"), wd, checkpoint="minimal"
    )
    out = again.run()
    assert _edge_set(out["edges"]) == _edge_set(first["edges"])
    for stage in ("docs", "linked", "nodes", "edges"):
        assert again.metrics[stage].get("resumed"), stage


def test_incremental_rejects_minimal_base(spark, corpus_dir, minimal_run):
    _, _, wd = minimal_run
    runner = PipelineRunner(
        spark, os.path.join(corpus_dir, "pages.parquet"), wd, checkpoint="all"
    )
    with pytest.raises(RuntimeError, match="checkpoint='all'"):
        runner.run_incremental(os.path.join(corpus_dir, "pages.parquet"))
