"""Crash-window safety of the mutation machinery: the atomic stage swap
(`_swap_in` + `_heal_swaps`, behind both the Spark swap and the driver-side
bucket merge), atomic JSON record writes, and the accurate
cross-mutation pending error. Analog of the reference's job-recovery
expectations (``graph_builder.py`` resume semantics), pinned here because a
100 TB mutation that crashes mid-swap must never silently lose rows."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

import codegraphcontext_spark.pipeline.runner as runner_mod
from codegraphcontext_spark.pipeline.runner import PipelineRunner

from .conftest import rollups, stage_rows

PREFIX = "https://site1"


@pytest.fixture(scope="module")
def base_build(spark, corpus_dir, tmp_path_factory):
    """One committed base build, copied per-test so each test mutates its
    own workdir without a rebuild."""
    wd = str(tmp_path_factory.mktemp("crash_base"))
    pages = os.path.join(corpus_dir, "pages.parquet")
    PipelineRunner(spark, pages, wd).run()
    return pages, wd


def _clone(base_build, tmp_path_factory, name):
    pages, wd = base_build
    dst = str(tmp_path_factory.mktemp(name) / "wd")
    shutil.copytree(wd, dst)
    return pages, dst


def test_heal_restores_backup_when_data_missing(
    spark, base_build, tmp_path_factory
):
    """Crash between _swap_in's two renames (old moved aside, new not yet
    in place): constructing a runner must restore the backup so the retry
    recomputes from intact data instead of failing on a missing stage."""
    pages, wd = _clone(base_build, tmp_path_factory, "heal_restore")
    docs_data = os.path.join(wd, "docs", "data")
    os.rename(docs_data, docs_data + "_old")  # simulated crash point

    runner = PipelineRunner(spark, pages, wd)
    assert os.path.isdir(docs_data)
    assert not os.path.isdir(docs_data + "_old")
    runner.run()
    assert all(m.get("resumed") for m in runner.metrics.values())


def test_heal_drops_backup_when_swap_completed(
    spark, base_build, tmp_path_factory
):
    """Crash after the new data was renamed in but before the backup was
    deleted: the backup (stale rows) must be dropped, not restored."""
    pages, wd = _clone(base_build, tmp_path_factory, "heal_drop")
    docs_data = os.path.join(wd, "docs", "data")
    bak = docs_data + "_old"
    shutil.copytree(docs_data, bak)
    marker = os.path.join(bak, "stale_marker")
    open(marker, "w").close()

    PipelineRunner(spark, pages, wd)
    assert os.path.isdir(docs_data)
    assert not os.path.isdir(bak)


def test_cross_mutation_error_is_accurate(
    spark, base_build, tmp_path_factory
):
    """A DIFFERENT mutation attempted while one is pending must get the
    pending-mutation error (with the retry remedy), not the misleading
    'needs a base build' diagnosis mixed manifests would otherwise trip."""
    pages, wd = _clone(base_build, tmp_path_factory, "crossmut")
    crashing = PipelineRunner(spark, pages, wd)
    crashing._recompute_globals = lambda: (_ for _ in ()).throw(
        RuntimeError("injected crash")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        crashing.run_delete(PREFIX)
    assert os.path.exists(os.path.join(wd, "_pending.json"))

    tbl = pq.read_table(pages)
    delta_dir = tmp_path_factory.mktemp("crossmut_delta")
    delta_p = str(delta_dir / "delta.parquet")
    pq.write_table(tbl.slice(0, 5), delta_p)

    with pytest.raises(RuntimeError, match="interrupted delete mutation"):
        PipelineRunner(spark, pages, wd).run_incremental(delta_p)
    with pytest.raises(RuntimeError, match="interrupted delete mutation"):
        PipelineRunner(spark, pages, wd).run_delete("https://site2")

    # retrying the interrupted delete itself still completes
    out = PipelineRunner(spark, pages, wd).run_delete(PREFIX)
    assert not os.path.exists(os.path.join(wd, "_pending.json"))
    assert out["docs"].where(out["docs"].url.startswith(PREFIX)).count() == 0


def test_write_json_atomic(tmp_path):
    """Record files are written tmp-then-rename: the final path only ever
    holds complete JSON and no .tmp residue survives."""
    p = str(tmp_path / "rec.json")
    PipelineRunner._write_json_atomic(p, {"sig": "abc", "n": 1})
    with open(p) as f:
        assert json.load(f) == {"sig": "abc", "n": 1}
    assert not os.path.exists(p + ".tmp")
    # overwrite goes through the same path
    PipelineRunner._write_json_atomic(p, [1, 2, 3])
    with open(p) as f:
        assert json.load(f) == [1, 2, 3]
    assert not os.path.exists(p + ".tmp")


def _sets(out):
    edges = {
        (r.subj_id, r.pred, r.obj_id, r.n_occurrences)
        for r in out["edges"].select(
            "subj_id", "pred", "obj_id", "n_occurrences"
        ).collect()
    }
    nodes = {
        (r.node_id, r.node_type, r.name)
        for r in out["nodes"].select("node_id", "node_type", "name").collect()
    }
    return nodes, edges


def _assert_readable(spark, pages, wd):
    """Every record a later runner or `cli status` reads still parses."""
    PipelineRunner(spark, pages, wd)
    for rec in ("_ingested.json", "_pending.json"):
        if os.path.exists(os.path.join(wd, rec)):
            with open(os.path.join(wd, rec)) as f:
                json.load(f)
    for stage in os.listdir(wd):
        man = os.path.join(wd, stage, "manifest.json")
        if os.path.exists(man):
            with open(man) as f:
                json.load(f)
        lin = os.path.join(wd, stage, "lineage", "lineage.parquet")
        if os.path.exists(lin):
            pq.ParquetFile(lin).metadata


def _crash_json_write(monkeypatch, name):
    """The next write of the JSON record ``name`` dies halfway through its
    bytes."""
    real_dump = json.dump

    def dump(obj, f, *a, **kw):
        if os.path.basename(getattr(f, "name", "")).startswith(name):
            monkeypatch.setattr(runner_mod.json, "dump", real_dump)
            text = json.dumps(obj)
            f.write(text[: len(text) // 2])
            raise OSError(f"injected crash mid {name} write")
        return real_dump(obj, f, *a, **kw)

    monkeypatch.setattr(runner_mod.json, "dump", dump)


def _crash_manifest_write(monkeypatch):
    """The next manifest.json write dies halfway through its bytes."""
    _crash_json_write(monkeypatch, "manifest.json")


def _crash_lineage_write(monkeypatch):
    """The next lineage parquet write leaves a torn file and dies."""
    real_write = pq.write_table

    def write_table(table, where, *a, **kw):
        monkeypatch.setattr(pq, "write_table", real_write)
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("injected crash mid lineage write")

    monkeypatch.setattr(pq, "write_table", write_table)


def test_build_survives_crash_in_commit_manifest(
    spark, base_build, tmp_path_factory, monkeypatch
):
    """A crash while _commit writes a stage manifest must leave the workdir
    readable; the retried build equals a clean one."""
    pages, base_wd = base_build
    wd = str(tmp_path_factory.mktemp("crash_commit") / "wd")
    _crash_manifest_write(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run()
    _assert_readable(spark, pages, wd)
    clean = PipelineRunner(spark, pages, base_wd).run()
    assert _sets(PipelineRunner(spark, pages, wd).run()) == _sets(clean)


def test_build_survives_crash_in_stage_write(
    spark, base_build, tmp_path_factory, monkeypatch
):
    """A build whose write of the linked stage's data dies after some of
    its part files reached disk leaves linked without a manifest; a fresh
    runner's build equals a clean one on every stage."""
    from pyspark.sql.readwriter import DataFrameWriter

    pages, base_wd = base_build
    wd = str(tmp_path_factory.mktemp("crash_stage_write") / "wd")
    real = DataFrameWriter.parquet
    target = os.path.join("linked", "data")

    def parquet(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if not str(path).endswith(target):
            return
        monkeypatch.setattr(DataFrameWriter, "parquet", real)
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        for f in parts[1:] + ["_SUCCESS"]:  # one part file stays on disk
            os.remove(os.path.join(path, f))
        raise OSError("injected crash mid stage write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run()
    assert any(
        f.startswith("part-") for f in os.listdir(os.path.join(wd, "linked", "data"))
    )
    assert not os.path.exists(os.path.join(wd, "linked", "manifest.json"))
    _assert_readable(spark, pages, wd)
    clean = PipelineRunner(spark, pages, base_wd).run()
    assert stage_rows(PipelineRunner(spark, pages, wd).run()) == stage_rows(clean)


def _crash_before_edges_swap(monkeypatch):
    """The graph tail dies after nodes was swapped in and committed, with
    edges' data_new assembled but not yet swapped in."""
    real = PipelineRunner._swap_in

    def swap_in(self, stage):
        if stage == "edges":
            monkeypatch.setattr(PipelineRunner, "_swap_in", real)
            raise OSError("injected crash between the nodes and edges swaps")
        return real(self, stage)

    monkeypatch.setattr(PipelineRunner, "_swap_in", swap_in)


def _crash_mid_nodes_write(monkeypatch):
    """The driver-side graph rollup dies writing nodes' data_new, leaving a
    torn part file there."""
    _crash_mid_bucket_merge(monkeypatch, "nodes")


def _no_data_new(wd) -> bool:
    return not any(
        os.path.isdir(os.path.join(wd, s, "data_new")) for s in os.listdir(wd)
    )


@pytest.mark.parametrize("inject", [_crash_before_edges_swap, _crash_mid_nodes_write])
def test_build_survives_crash_in_graph_tail(
    spark, base_build, tmp_path_factory, monkeypatch, inject
):
    """A build whose driver-side graph rollup dies between the nodes and
    edges swaps, or while writing nodes, leaves the workdir readable; a
    fresh runner's build clears the leftover data_new and equals a clean
    build on every stage."""
    pages, base_wd = base_build
    wd = str(tmp_path_factory.mktemp("crash_graph_tail") / "wd")
    inject(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run()
    assert not _no_data_new(wd)
    _assert_readable(spark, pages, wd)
    retried = PipelineRunner(spark, pages, wd).run()
    assert _no_data_new(wd)
    assert rollups(wd) == dict.fromkeys(("nodes", "edges"), "pyarrow")
    assert stage_rows(retried) == stage_rows(PipelineRunner(spark, pages, base_wd).run())


@pytest.mark.parametrize("inject", [_crash_manifest_write, _crash_lineage_write])
def test_delete_survives_crash_in_refresh(
    spark, base_build, tmp_path_factory, monkeypatch, inject
):
    """A crash in the middle of a delete's first manifest or lineage write
    must leave the workdir readable; the retried delete equals a clean
    delete."""
    pages, wd = _clone(base_build, tmp_path_factory, "crash_refresh")
    _, ref_wd = _clone(base_build, tmp_path_factory, "crash_refresh_ref")
    clean = PipelineRunner(spark, pages, ref_wd).run_delete(PREFIX)
    inject(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run_delete(PREFIX)
    _assert_readable(spark, pages, wd)
    retried = PipelineRunner(spark, pages, wd).run_delete(PREFIX)
    assert _sets(retried) == _sets(clean)


# A swap of this stage is where the _swap_in crashes below hit: by then
# the docs and sentences swaps of the same fold have already landed.
_SWAP_STAGE = "triples"


def _crash_between_swap_renames(monkeypatch):
    """_swap_in dies after moving the old data aside and before renaming
    the new data in: the stage has data_old and data_new but no data."""
    real = os.rename
    new = os.path.join(_SWAP_STAGE, "data_new")

    def rename(src, dst):
        if src.endswith(new):
            monkeypatch.setattr(runner_mod.os, "rename", real)
            raise OSError("injected crash between swap renames")
        return real(src, dst)

    monkeypatch.setattr(runner_mod.os, "rename", rename)


def _crash_after_swap_renames(monkeypatch):
    """_swap_in dies after both renames, before the backup is deleted:
    the stage has the new data and a stale data_old."""
    real = shutil.rmtree
    bak = os.path.join(_SWAP_STAGE, "data_old")

    def rmtree(path, *a, **kw):
        if str(path).endswith(bak):
            monkeypatch.setattr(runner_mod.shutil, "rmtree", real)
            raise OSError("injected crash after swap renames")
        return real(path, *a, **kw)

    monkeypatch.setattr(runner_mod.shutil, "rmtree", rmtree)


def _crash_ingested_write(monkeypatch):
    """The _ingested.json write that marks the fold as done dies halfway
    through its bytes, after every stage committed."""
    _crash_json_write(monkeypatch, "_ingested.json")


_NEW_URL = "https://crashfold.example/new"


@pytest.fixture(scope="module")
def fold_delta(base_build, tmp_path_factory):
    """A delta that changes the graph: a newer snapshot of one base url and
    a page under a url the base does not have."""
    from datetime import datetime

    import pyarrow as pa

    pages, _ = base_build
    t = pq.read_table(pages)
    delta = t.slice(0, 2)
    html = [
        b"<html><body><p>Crashfold Corp is a company. "
        b"Crashfold Corp acquired Acme Corp.</p></body></html>",
        b"<html><body><p>Newpage Labs is a company. "
        b"Newpage Labs acquired Crashfold Corp.</p></body></html>",
    ]
    cols = {
        "url": [delta.column("url")[0].as_py(), _NEW_URL],
        "warc_ts": [datetime(2030, 1, 1)] * 2,
        "html": html,
    }
    for name, values in cols.items():
        i = delta.schema.get_field_index(name)
        field = delta.schema.field(i)
        delta = delta.set_column(i, field, pa.array(values, field.type))
    p = str(tmp_path_factory.mktemp("crash_fold_delta") / "delta.parquet")
    pq.write_table(delta, p)
    return p


@pytest.fixture(scope="module")
def clean_fold(spark, base_build, fold_delta, tmp_path_factory):
    """The node and edge sets of an uninterrupted fold of fold_delta."""
    pages, wd = _clone(base_build, tmp_path_factory, "clean_fold")
    nodes, edges = _sets(
        PipelineRunner(spark, pages, wd).run_incremental(fold_delta)
    )
    assert any(n[0] == _NEW_URL for n in nodes), "the delta did not land"
    # the crashes below hit the default path of a delta this small
    assert runner_mod.LAST_FOLD_PATH == "bucket-merge"
    return nodes, edges


@pytest.mark.parametrize(
    "inject",
    [_crash_between_swap_renames, _crash_after_swap_renames, _crash_ingested_write],
)
def test_incremental_survives_crash_at_write_boundary(
    spark, base_build, fold_delta, clean_fold, tmp_path_factory, monkeypatch,
    inject,
):
    """A crash inside a fold's stage swap, or while the fold is being
    marked done, must leave the workdir readable; the retried fold equals
    an uninterrupted one."""
    pages, wd = _clone(base_build, tmp_path_factory, "crash_fold")
    inject(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run_incremental(fold_delta)
    _assert_readable(spark, pages, wd)
    retried = PipelineRunner(spark, pages, wd).run_incremental(fold_delta)
    assert not os.path.exists(os.path.join(wd, "_pending.json"))
    assert _sets(retried) == clean_fold


@pytest.mark.parametrize("fold_path", ["spark-swap"], indirect=True)
@pytest.mark.parametrize(
    "inject", [_crash_between_swap_renames, _crash_after_swap_renames]
)
def test_incremental_survives_crash_on_spark_swap(
    spark, base_build, fold_delta, clean_fold, tmp_path_factory, monkeypatch,
    inject, fold_path,
):
    """The same swap-window crashes on the Spark swap path (both cutovers
    forced to 0): the retried fold equals an uninterrupted one."""
    pages, wd = _clone(base_build, tmp_path_factory, "crash_fold_spark")
    inject(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run_incremental(fold_delta)
    assert runner_mod.LAST_FOLD_PATH == fold_path
    _assert_readable(spark, pages, wd)
    retried = PipelineRunner(spark, pages, wd).run_incremental(fold_delta)
    assert _sets(retried) == clean_fold


def _crash_mid_bucket_merge(monkeypatch, stage=_SWAP_STAGE):
    """The bucket merge dies while assembling ``stage``'s data_new: the
    untouched part files are already linked in and the first rewritten
    bucket file is torn."""
    real = pq.write_table
    target = os.path.join(stage, "data_new")

    def write_table(table, where, *a, **kw):
        if os.path.dirname(str(where)).endswith(target):
            monkeypatch.setattr(pq, "write_table", real)
            with open(where, "wb") as f:
                f.write(b"PAR1 torn")
            raise OSError("injected crash mid bucket merge")
        return real(table, where, *a, **kw)

    monkeypatch.setattr(pq, "write_table", write_table)


def test_incremental_clears_half_assembled_merge(
    spark, base_build, fold_delta, clean_fold, tmp_path_factory, monkeypatch
):
    """A crash while the bucket merge assembles a stage's data_new leaves
    hard links and a torn part file behind; the retry clears them, and its
    result equals an uninterrupted fold."""
    pages, wd = _clone(base_build, tmp_path_factory, "crash_merge")
    _crash_mid_bucket_merge(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run_incremental(fold_delta)
    assert runner_mod.LAST_FOLD_PATH == "bucket-merge"
    left = os.listdir(os.path.join(wd, _SWAP_STAGE, "data_new"))
    assert sum(n.endswith(".parquet") for n in left) >= 2  # links + torn file
    _assert_readable(spark, pages, wd)
    retried = PipelineRunner(spark, pages, wd).run_incremental(fold_delta)
    assert not os.path.exists(os.path.join(wd, _SWAP_STAGE, "data_new"))
    assert _sets(retried) == clean_fold


@pytest.fixture(scope="module")
def clean_delete(spark, base_build, tmp_path_factory):
    """The node and edge sets of an uninterrupted delete of PREFIX."""
    pages, wd = _clone(base_build, tmp_path_factory, "clean_delete")
    return _sets(PipelineRunner(spark, pages, wd).run_delete(PREFIX))


@pytest.mark.parametrize(
    "inject",
    [_crash_between_swap_renames, _crash_after_swap_renames, _crash_ingested_write],
)
def test_delete_survives_crash_at_write_boundary(
    spark, base_build, clean_delete, tmp_path_factory, monkeypatch, inject,
    fold_path,
):
    """A crash inside a delete's stage swap, or while the delete is being
    marked done, must leave the workdir readable; the retried delete equals
    an uninterrupted one, on both narrow-stage paths. The swap crashes hit
    the triples swap, after other stages' swaps landed."""
    pages, wd = _clone(base_build, tmp_path_factory, "crash_delete")
    inject(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run_delete(PREFIX)
    assert runner_mod.LAST_FOLD_PATH == fold_path
    _assert_readable(spark, pages, wd)
    retried = PipelineRunner(spark, pages, wd).run_delete(PREFIX)
    assert not os.path.exists(os.path.join(wd, "_pending.json"))
    assert _sets(retried) == clean_delete


@pytest.fixture(scope="module")
def stable_delta(base_build, tmp_path_factory):
    """A delta that changes the graph but not canon: a same-html recrawl of
    one base url a day later, and a new url carrying another base page's
    html (every surface it defines is already defined, with its etype)."""
    from datetime import timedelta

    import pyarrow as pa

    pages, _ = base_build
    t = pq.read_table(pages)
    urls = t.column("url").to_pylist()
    single = [i for i, u in enumerate(urls) if urls.count(u) == 1]
    delta = t.take([single[0], single[1]])
    cols = {
        "url": [urls[single[0]], "https://crashfold.example/copy"],
        "warc_ts": [ts + timedelta(days=1) for ts in delta.column("warc_ts").to_pylist()],
    }
    for name, values in cols.items():
        i = delta.schema.get_field_index(name)
        field = delta.schema.field(i)
        delta = delta.set_column(i, field, pa.array(values, field.type))
    p = str(tmp_path_factory.mktemp("crash_stable_delta") / "delta.parquet")
    pq.write_table(delta, p)
    return p


@pytest.fixture(scope="module")
def clean_stable_fold(spark, base_build, stable_delta, tmp_path_factory):
    """All ten stages of an uninterrupted fold of stable_delta, which takes
    the scoped global tail."""
    pages, wd = _clone(base_build, tmp_path_factory, "clean_stable_fold")
    rows = stage_rows(PipelineRunner(spark, pages, wd).run_incremental(stable_delta))
    assert runner_mod.LAST_GLOBALS_PATH == "scoped"
    return rows


def _crash_before_occurrence_merge(monkeypatch):
    """The scoped tail dies after the linked merge swap landed and before
    the edge_occurrences merge starts."""
    real = PipelineRunner._merge_swap

    def merge_swap(self, stage, *a, **kw):
        if stage == "edge_occurrences":
            monkeypatch.setattr(PipelineRunner, "_merge_swap", real)
            raise OSError("injected crash between relinked merges")
        return real(self, stage, *a, **kw)

    monkeypatch.setattr(PipelineRunner, "_merge_swap", merge_swap)


def _crash_after_canon_refresh(monkeypatch):
    """The scoped tail dies right after canon's manifest advanced: canon is
    delta-inclusive, linked is not."""
    real = PipelineRunner._refresh_manifest

    def refresh(self, stage, *a, **kw):
        real(self, stage, *a, **kw)
        if stage == "canon":
            monkeypatch.setattr(PipelineRunner, "_refresh_manifest", real)
            raise OSError("injected crash after canon refresh")

    monkeypatch.setattr(PipelineRunner, "_refresh_manifest", refresh)


def _crash_mid_occurrence_merge(monkeypatch):
    """The scoped tail dies while assembling edge_occurrences' data_new."""
    _crash_mid_bucket_merge(monkeypatch, "edge_occurrences")


@pytest.mark.parametrize(
    "inject",
    [
        _crash_before_occurrence_merge, _crash_mid_occurrence_merge,
        _crash_after_canon_refresh, _crash_between_swap_renames,
        _crash_before_edges_swap, _crash_mid_nodes_write,
    ],
)
def test_scoped_fold_crash_retries_by_recompute(
    spark, base_build, stable_delta, clean_stable_fold, tmp_path_factory,
    monkeypatch, inject,
):
    """A canon-stable fold that crashes in its scoped tail (its graph
    rollup included), or in a narrow swap before it, is retried from
    _pending.json down the full recompute (a crash can leave canon
    advanced and linked behind, or nodes ahead of edges); the retry leaves
    no half-assembled data_new and equals an uninterrupted fold on every
    stage."""
    pages, wd = _clone(base_build, tmp_path_factory, "crash_scoped")
    inject(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        PipelineRunner(spark, pages, wd).run_incremental(stable_delta)
    _assert_readable(spark, pages, wd)
    assert os.path.exists(os.path.join(wd, "_pending.json"))
    retried = PipelineRunner(spark, pages, wd).run_incremental(stable_delta)
    assert runner_mod.LAST_GLOBALS_PATH == "recomputed"
    assert not os.path.exists(os.path.join(wd, "_pending.json"))
    assert _no_data_new(wd)
    assert stage_rows(retried) == clean_stable_fold


def test_legacy_occurrence_manifest_takes_recompute(
    spark, base_build, stable_delta, clean_stable_fold, tmp_path_factory
):
    """An edge_occurrences manifest without n_buckets (written before the
    stage was url-bucketed) sends a canon-stable fold down the full
    recompute, which re-buckets the stage; the result equals the scoped
    fold on every stage."""
    pages, wd = _clone(base_build, tmp_path_factory, "legacy_occ")
    man_p = os.path.join(wd, "edge_occurrences", "manifest.json")
    with open(man_p) as f:
        man = json.load(f)
    n = man.pop("n_buckets")
    PipelineRunner._write_json_atomic(man_p, man)
    out = PipelineRunner(spark, pages, wd).run_incremental(stable_delta)
    assert runner_mod.LAST_FOLD_PATH == "bucket-merge"
    assert runner_mod.LAST_GLOBALS_PATH == "recomputed"
    with open(man_p) as f:
        assert json.load(f)["n_buckets"] == n
    assert stage_rows(out) == clean_stable_fold
