"""Deletion (S6 whole-repo delete / S7 file delete + GC, reference
``graph_builder.py:407-441``): removing a url prefix from a committed build
must produce the same graph as a fresh build over the corpus without those
pages, with entity/domain GC falling out of the global recompute."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import codegraphcontext_spark.pipeline.runner as runner_mod
from codegraphcontext_spark.pipeline.runner import PipelineRunner

from .conftest import BRANCHES, after_swap, rollups, stage_rows

PREFIX = "https://site1"  # matches site1, site10..site19, site100 — ~10% of pages


@pytest.fixture(scope="module")
def filtered_corpus(corpus_dir, tmp_path_factory):
    """The corpus minus all pages under PREFIX — ground truth for deletion."""
    d = tmp_path_factory.mktemp("delcorpus")
    t = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    mask = [not u.startswith(PREFIX) for u in t.column("url").to_pylist()]
    kept = t.filter(mask)
    assert kept.num_rows < t.num_rows  # the prefix must actually match pages
    p = str(d / "filtered.parquet")
    pq.write_table(kept, p)
    return p


@pytest.fixture(scope="module")
def filtered_sets(spark, filtered_corpus, tmp_path_factory):
    """Row multisets of all ten stages of a fresh build without the
    deleted pages."""
    wd_ref = str(tmp_path_factory.mktemp("wd_ref"))
    return stage_rows(PipelineRunner(spark, filtered_corpus, wd_ref).run())


@BRANCHES
def test_delete_equals_filtered_build(
    spark, corpus_dir, filtered_sets, tmp_path_factory, fold_path, graph_rollup
):
    wd_del = str(tmp_path_factory.mktemp("wd_del"))

    runner = PipelineRunner(spark, os.path.join(corpus_dir, "pages.parquet"), wd_del)
    runner.run()
    deleted = runner.run_delete(PREFIX)
    assert runner_mod.LAST_FOLD_PATH == fold_path
    assert runner_mod.LAST_GLOBALS_PATH == "recomputed"
    assert rollups(wd_del) == dict.fromkeys(("nodes", "edges"), graph_rollup)

    assert after_swap(stage_rows(deleted), fold_path) == after_swap(
        filtered_sets, fold_path
    )
    # no Page node under the prefix survives
    assert (
        deleted["nodes"]
        .where(
            (F.col("node_type") == "Page") & F.col("node_id").startswith(PREFIX)
        )
        .count()
        == 0
    )


def test_delete_idempotent_and_resumable(spark, corpus_dir, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("wd_del_idem"))
    pages = os.path.join(corpus_dir, "pages.parquet")
    runner = PipelineRunner(spark, pages, wd)
    runner.run()
    first = runner.run_delete(PREFIX)
    n_edges = first["edges"].count()

    # same delete again on a fresh runner -> pure resume, no rebuild
    again = PipelineRunner(spark, pages, wd)
    second = again.run_delete(PREFIX)
    assert second["edges"].count() == n_edges
    assert all(m.get("resumed") for m in again.metrics.values())

    # a plain run() over the same workdir also resumes (fingerprint carries
    # the deletion) and does NOT resurrect the deleted pages
    third = PipelineRunner(spark, pages, wd)
    out = third.run()
    assert all(m.get("resumed") for m in third.metrics.values())
    assert out["edges"].count() == n_edges


def test_delete_requires_base(spark, corpus_dir, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("wd_del_nobase"))
    pages = os.path.join(corpus_dir, "pages.parquet")
    with pytest.raises(RuntimeError, match="base build"):
        PipelineRunner(spark, pages, wd).run_delete(PREFIX)


def test_delete_empty_prefix_rejected(spark, corpus_dir, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("wd_del_empty"))
    pages = os.path.join(corpus_dir, "pages.parquet")
    with pytest.raises(ValueError):
        PipelineRunner(spark, pages, wd).run_delete("")


def test_redelete_after_reingest_applies(spark, corpus_dir, tmp_path_factory):
    """A delete must re-apply when pages under the prefix were re-ingested
    AFTER it (positional mutation signatures — a bare membership test would
    silently no-op and leave the re-added pages in the graph)."""
    import pyarrow.parquet as pq

    pages = os.path.join(corpus_dir, "pages.parquet")
    wd = str(tmp_path_factory.mktemp("redel_wd"))
    runner = PipelineRunner(spark, pages, wd)
    runner.run()
    runner.run_delete(PREFIX)

    # re-ingest some pages under the deleted prefix via a delta snapshot
    tbl = pq.read_table(pages)
    mask = [u.as_py().startswith(PREFIX) for u in tbl["url"]]
    idx = [i for i, m in enumerate(mask) if m][:5]
    delta_dir = str(tmp_path_factory.mktemp("redel_delta"))
    delta_p = os.path.join(delta_dir, "delta.parquet")
    pq.write_table(tbl.take(idx), delta_p)
    out = PipelineRunner(spark, pages, wd).run_incremental(delta_p)
    n_after_reingest = (
        out["docs"].where(out["docs"].url.startswith(PREFIX)).count()
    )
    assert n_after_reingest > 0  # the prefix is back

    # second delete of the SAME prefix must actually delete again
    out2 = PipelineRunner(spark, pages, wd).run_delete(PREFIX)
    assert out2["docs"].where(out2["docs"].url.startswith(PREFIX)).count() == 0


def test_interrupted_delete_blocks_run_and_retry_completes(
    spark, corpus_dir, tmp_path_factory
):
    """Crash between manifest refresh and the durable ingest record: a plain
    run() must refuse (not silently rebuild from base, resurrecting the
    deleted pages), and retrying the SAME delete completes it."""
    pages = os.path.join(corpus_dir, "pages.parquet")
    wd = str(tmp_path_factory.mktemp("crash_wd"))
    runner = PipelineRunner(spark, pages, wd)
    runner.run()

    crashing = PipelineRunner(spark, pages, wd)
    orig = crashing._recompute_globals
    crashing._recompute_globals = lambda: (_ for _ in ()).throw(
        RuntimeError("injected crash")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        crashing.run_delete(PREFIX)
    assert os.path.exists(os.path.join(wd, "_pending.json"))

    # plain run() on a fresh runner must refuse, not rebuild from base
    with pytest.raises(RuntimeError, match="pending"):
        PipelineRunner(spark, pages, wd).run()

    # retrying the same delete completes and clears the pending record
    out = PipelineRunner(spark, pages, wd).run_delete(PREFIX)
    assert not os.path.exists(os.path.join(wd, "_pending.json"))
    assert out["docs"].where(out["docs"].url.startswith(PREFIX)).count() == 0
    # and a plain run() now resumes cleanly
    resumed = PipelineRunner(spark, pages, wd)
    resumed.run()
    assert all(m.get("resumed") for m in resumed.metrics.values())
