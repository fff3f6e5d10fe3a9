"""Incremental mode (W3 analog): folding a delta snapshot into a committed
workdir must produce the same graph as a full run over base+delta, with
delta-only recompute of the narrow stages and idempotent re-ingestion.

The reference's watcher re-parses the whole repo on any change (reference
``core/watcher.py:84-119``); this pins the upgraded O(delta) contract."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import codegraphcontext_spark.pipeline.runner as runner_mod
from codegraphcontext_spark import cli
from codegraphcontext_spark.pipeline.canon import norm_expr
from codegraphcontext_spark.pipeline.runner import (
    _NARROW,
    _RELINKED,
    PipelineRunner,
    _bucketed,
    _part_files,
    _part_index,
    read_stage,
    url_bucket,
)

from .conftest import BRANCHES, after_swap, rollups, stage_rows

# the stages a fold rebuilds after the narrow ones, on either global path
_GLOBALS = ("canon", "linked", "nodes", "edges", "edge_occurrences")


@pytest.fixture(scope="module")
def split_corpus(corpus_dir, tmp_path_factory):
    """Split the smoke pages deterministically by url into base / delta,
    keeping all snapshots of one url on the same side (the dup-url edge case
    must not straddle the split)."""
    d = tmp_path_factory.mktemp("incr")
    t = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    urls = sorted(set(t.column("url").to_pylist()))
    base_urls = set(urls[: int(len(urls) * 0.6)])
    mask = [u in base_urls for u in t.column("url").to_pylist()]
    base = t.filter(mask)
    delta = t.filter([not m for m in mask])
    base_p = str(d / "base.parquet")
    delta_p = str(d / "delta.parquet")
    pq.write_table(base, base_p)
    pq.write_table(delta, delta_p)
    return base_p, delta_p


def _edge_set(edges):
    return {
        (r.subj_id, r.pred, r.obj_id, r.n_occurrences)
        for r in edges.select("subj_id", "pred", "obj_id", "n_occurrences").collect()
    }


@pytest.fixture(scope="module")
def full_build(spark, corpus_dir, tmp_path_factory):
    """A full build over base + delta (the whole corpus)."""
    wd_full = str(tmp_path_factory.mktemp("wd_full"))
    return PipelineRunner(
        spark, os.path.join(corpus_dir, "pages.parquet"), wd_full
    ).run()


@pytest.fixture(scope="module")
def full_sets(full_build):
    """Row multisets of all ten stages of the full build."""
    return stage_rows(full_build)


@BRANCHES
def test_incremental_equals_full(
    spark, split_corpus, full_sets, tmp_path_factory, fold_path, graph_rollup
):
    base_p, delta_p = split_corpus
    wd_incr = str(tmp_path_factory.mktemp("wd_incr"))

    incr_runner = PipelineRunner(spark, base_p, wd_incr)
    incr_runner.run()
    assert rollups(wd_incr) == dict.fromkeys(("nodes", "edges"), graph_rollup)
    incr = incr_runner.run_incremental(delta_p)
    assert runner_mod.LAST_FOLD_PATH == fold_path
    assert rollups(wd_incr) == dict.fromkeys(("nodes", "edges"), graph_rollup)

    assert after_swap(stage_rows(incr), fold_path) == after_swap(full_sets, fold_path)


def test_incremental_idempotent(spark, split_corpus, tmp_path_factory):
    base_p, delta_p = split_corpus
    wd = str(tmp_path_factory.mktemp("wd_idem"))
    runner = PipelineRunner(spark, base_p, wd)
    runner.run()
    first = runner.run_incremental(delta_p)
    edges1 = _edge_set(first["edges"])

    again = PipelineRunner(spark, base_p, wd)
    second = again.run_incremental(delta_p)  # same delta -> resume, no rebuild
    assert _edge_set(second["edges"]) == edges1
    assert all(m.get("resumed") for m in again.metrics.values())


def test_incremental_requires_base(spark, split_corpus, tmp_path_factory):
    base_p, delta_p = split_corpus
    wd = str(tmp_path_factory.mktemp("wd_nobase"))
    with pytest.raises(RuntimeError, match="base build"):
        PipelineRunner(spark, base_p, wd).run_incremental(delta_p)


def test_incremental_newer_snapshot_wins(
    spark, corpus_dir, tmp_path_factory, fold_path
):
    """A delta carrying a NEWER snapshot of an existing url replaces its doc."""
    import pyarrow as pa
    from datetime import datetime

    d = tmp_path_factory.mktemp("snap")
    wd = str(tmp_path_factory.mktemp("wd_snap"))
    runner = PipelineRunner(spark, os.path.join(corpus_dir, "pages.parquet"), wd)
    out = runner.run()
    victim = out["docs"].orderBy("url").select("url").first().url

    new_html = (
        "<html><body><p>Updated Page Corp is a company. "
        "Updated Page Corp acquired Acme Corp.</p></body></html>"
    ).encode()
    delta = pa.table({
        "url": pa.array([victim], pa.string()),
        "warc_ts": pa.array([datetime(2030, 1, 1)], pa.timestamp("us")),
        "html": pa.array([new_html], pa.binary()),
        "text": pa.array([""], pa.string()),
        "lang": pa.array(["en"], pa.string()),
    })
    delta_p = str(d / "delta.parquet")
    pq.write_table(delta, delta_p)

    res = runner.run_incremental(delta_p)
    assert runner_mod.LAST_FOLD_PATH == fold_path
    txt = res["docs"].where(F.col("url") == victim).first().text_extracted
    assert "Updated Page Corp" in txt
    assert res["docs"].where(F.col("url") == victim).count() == 1


_SWAP_KEYS = ("n_buckets", "rewritten_files", "linked_files", "wall_ms")


def _manifest(wd, stage):
    with open(os.path.join(wd, stage, "manifest.json")) as f:
        return json.load(f)


def _inodes(wd, stage):
    data = os.path.join(wd, stage, "data")
    return {n: os.stat(os.path.join(data, n)).st_ino for n in _part_files(data)}


def _assert_bucketed(spark, wd, n_buckets):
    """Every part file of every url-bucketed stage holds only urls whose
    bucket is the index in its name; edge_occurrences keeps its layout
    sort within each file."""
    for stage in _NARROW + _RELINKED:
        data = os.path.join(wd, stage, "data")
        rows = []
        for name in _part_files(data):
            idx = _part_index(name)
            assert idx is not None and idx < n_buckets, name
            t = pq.read_table(os.path.join(data, name))
            rows += [(idx, u) for u in t.column("url").to_pylist()]
            if stage == "edge_occurrences":
                cols = ("subj_id", "pred", "obj_id")
                keys = list(zip(*(t.column(c).to_pylist() for c in cols)))
                assert keys == sorted(keys), name
        misplaced = (
            spark.createDataFrame(rows, "idx int, url string")
            .where(url_bucket(n_buckets) != F.col("idx"))
            .count()
        )
        assert misplaced == 0, stage


def _url_buckets(spark, pages, n_buckets):
    return {
        r[0]
        for r in spark.read.parquet(pages)
        .select(url_bucket(n_buckets))
        .distinct()
        .collect()
    }


def test_bucket_layout_and_hard_links(
    spark, relink_inputs, tmp_path_factory, capsys
):
    """A build lays each url-keyed stage out so a part file's index is its
    urls' bucket and records the bucket count; a bucket-merge fold keeps
    that layout, hard-links the part files of untouched buckets (same
    inode) and writes the touched buckets' files anew, and its manifests
    say so. Its delta leaves canon unchanged, so the fold merges linked
    and edge_occurrences the same way and keeps canon's files."""
    pages, base_wd = relink_inputs["base"]
    # three held-out urls: fewer buckets than the layout has
    t = pq.read_table(relink_inputs["stable"])
    few = set(sorted(relink_inputs["held"])[:3])
    delta_p = str(tmp_path_factory.mktemp("layout") / "delta.parquet")
    pq.write_table(t.filter([u in few for u in t.column("url").to_pylist()]), delta_p)
    wd = _clone(base_wd, tmp_path_factory, "wd_layout")
    runner = PipelineRunner(spark, pages, wd)
    n = runner.n_partitions
    merged = _NARROW + _RELINKED
    assert all(_manifest(wd, s)["n_buckets"] == n for s in merged)
    _assert_bucketed(spark, wd, n)
    before = {s: _inodes(wd, s) for s in (*merged, "canon")}

    runner.run_incremental(delta_p)
    assert runner_mod.LAST_FOLD_PATH == "bucket-merge"
    assert runner_mod.LAST_GLOBALS_PATH == "scoped"
    _assert_bucketed(spark, wd, n)
    assert _inodes(wd, "canon") == before["canon"]
    # every delta url is new to the base, so every delta url wins
    touched = _url_buckets(spark, delta_p, n)
    assert 0 < len(touched) < n
    for stage in merged:
        after = _inodes(wd, stage)
        kept = {f: i for f, i in before[stage].items() if _part_index(f) not in touched}
        assert {f: after.get(f) for f in kept} == kept, stage
        new = set(after) - set(before[stage])
        assert new and {_part_index(f) for f in new} <= touched, stage
        man = _manifest(wd, stage)
        assert man["n_buckets"] == n
        assert man["linked_files"] == len(kept)
        assert man["rewritten_files"] == len(new)
        assert man["wall_ms"] >= 0
    # cli status prints what each swap did, and which global tail ran
    assert cli.main(["status", "--workdir", wd]) == 0
    shown = {m["stage"]: m for m in json.loads(capsys.readouterr().out)["stages"]}
    for stage in merged:
        assert {k: shown[stage][k] for k in _SWAP_KEYS} == {
            k: _manifest(wd, stage)[k] for k in _SWAP_KEYS
        }
    assert {s: shown[s]["globals"] for s in _GLOBALS} == dict.fromkeys(
        _GLOBALS, "scoped"
    )
    # and which branch rolled nodes and edges up
    assert {s: shown[s]["rollup"] for s in ("nodes", "edges")} == rollups(wd)
    assert rollups(wd) == dict.fromkeys(("nodes", "edges"), "pyarrow")


def _clone(wd, tmp_path_factory, name):
    dst = str(tmp_path_factory.mktemp(name) / "wd")
    shutil.copytree(wd, dst)
    return dst


def _with(table, **cols):
    """``table`` with the named columns replaced by the given values."""
    for name, values in cols.items():
        i = table.schema.get_field_index(name)
        field = table.schema.field(i)
        table = table.set_column(i, field, pa.array(values, field.type))
    return table


@pytest.fixture(scope="module")
def relink_inputs(spark, corpus_dir, full_build, tmp_path_factory):
    """Two deltas over one base build. ``held`` are eight corpus urls each
    of whose defined (surface, etype) pairs some base page defines too; the
    base is the corpus without them. The ``stable`` delta is the held pages
    plus recrawls of three base pages, same html one day later: it leaves
    the defined-surface table, and so canon, as the base has it. The
    ``new_surface`` delta adds a page that defines a surface no other page
    defines. ``base`` is (pages path, committed base workdir)."""
    from collections import defaultdict
    from datetime import timedelta

    d = tmp_path_factory.mktemp("relink")
    t = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    page_urls = t.column("url").to_pylist()
    pairs, definers = defaultdict(set), defaultdict(set)
    for r in full_build["defs"].select(
        "url", norm_expr(F.col("surface")).alias("s"), "etype"
    ).collect():
        pairs[r.url].add((r.s, r.etype))
        definers[(r.s, r.etype)].add(r.url)
    single = sorted(u for u in set(page_urls) if page_urls.count(u) == 1 and pairs[u])
    held: set = set()
    for u in single[::5]:
        trial = held | {u}
        if all(definers[p] - trial for v in trial for p in pairs[v]):
            held = trial
        if len(held) == 8:
            break
    assert len(held) == 8
    recrawl = [u for u in single if u not in held][-3:]

    in_held = [u in held for u in page_urls]
    later = t.filter([u in recrawl for u in page_urls])
    later = _with(
        later,
        warc_ts=[ts + timedelta(days=1) for ts in later.column("warc_ts").to_pylist()],
    )
    stable = pa.concat_tables([t.filter(in_held), later])
    new_page = _with(
        t.slice(0, 1),
        url=["https://relink.example/new"],
        html=[
            b"<html><body><p>Zyxquor Labs is a company. "
            b"Zyxquor Labs acquired Acme Corp.</p></body></html>"
        ],
    )
    paths = {"held": held}
    for name, extra in (("stable", []), ("new_surface", [new_page])):
        paths[name] = str(d / f"{name}.parquet")
        pq.write_table(pa.concat_tables([stable, *extra]), paths[name])
        paths[f"full_{name}"] = str(d / f"full_{name}.parquet")
        pq.write_table(pa.concat_tables([t, later, *extra]), paths[f"full_{name}"])
    base_p = str(d / "base.parquet")
    pq.write_table(t.filter([not h for h in in_held]), base_p)
    wd = str(tmp_path_factory.mktemp("relink_base") / "wd")
    PipelineRunner(spark, base_p, wd).run()
    paths["base"] = (base_p, wd)
    return paths


@pytest.fixture(scope="module")
def relink_full(spark, relink_inputs, tmp_path_factory):
    """Row multisets of all ten stages of a full build over base + each
    relink delta."""
    return {
        name: stage_rows(PipelineRunner(
            spark, relink_inputs[f"full_{name}"],
            str(tmp_path_factory.mktemp(f"wd_full_{name}")),
        ).run())
        for name in ("stable", "new_surface")
    }


@pytest.mark.parametrize("delta", ["stable", "new_surface"])
@BRANCHES
def test_fold_global_path_equals_full(
    spark, relink_inputs, relink_full, tmp_path_factory, fold_path, graph_rollup,
    delta,
):
    """A bucket-merge fold whose delta leaves canon unchanged takes the
    scoped global tail; one whose delta defines a new surface, or any
    Spark-swap fold, recomputes the global stages. Every stage equals a
    full build either way, whichever branch rolls nodes and edges up, and
    every global manifest names the path."""
    pages, base_wd = relink_inputs["base"]
    wd = _clone(base_wd, tmp_path_factory, f"wd_relink_{delta}")
    out = PipelineRunner(spark, pages, wd).run_incremental(relink_inputs[delta])
    path = "scoped" if (delta, fold_path) == ("stable", "bucket-merge") else "recomputed"
    assert runner_mod.LAST_FOLD_PATH == fold_path
    assert runner_mod.LAST_GLOBALS_PATH == path
    assert {s: _manifest(wd, s)["globals"] for s in _GLOBALS} == dict.fromkeys(
        _GLOBALS, path
    )
    assert rollups(wd) == dict.fromkeys(("nodes", "edges"), graph_rollup)
    assert after_swap(stage_rows(out), fold_path) == after_swap(
        relink_full[delta], fold_path
    )
    _assert_bucketed(spark, wd, _manifest(wd, "docs")["n_buckets"])


def test_legacy_workdir_takes_spark_swap_then_bucket_merge(
    spark, corpus_dir, split_corpus, full_sets, tmp_path_factory
):
    """A workdir whose manifests predate n_buckets, folded by a runner with
    another partition count, takes the Spark swap, which re-buckets the
    narrow stages and records n_buckets. The next fold, by a runner with a
    third partition count, takes the bucket merge on the recorded count,
    and the result still equals a full build."""
    base_p, delta_p = split_corpus
    d = tmp_path_factory.mktemp("legacy")
    t = pq.read_table(delta_p)
    urls = sorted(set(t.column("url").to_pylist()))
    first = [u in set(urls[: len(urls) // 2]) for u in t.column("url").to_pylist()]
    halves = []
    for i, mask in enumerate((first, [not m for m in first])):
        halves.append(str(d / f"delta{i}.parquet"))
        pq.write_table(t.filter(mask), halves[-1])

    wd = str(tmp_path_factory.mktemp("wd_legacy"))
    PipelineRunner(spark, base_p, wd, n_partitions=8).run()
    for stage in _NARROW:
        man = _manifest(wd, stage)
        del man["n_buckets"]
        PipelineRunner._write_json_atomic(
            os.path.join(wd, stage, "manifest.json"), man
        )

    PipelineRunner(spark, base_p, wd, n_partitions=5).run_incremental(halves[0])
    assert runner_mod.LAST_FOLD_PATH == "spark-swap"
    assert all(_manifest(wd, s)["n_buckets"] == 5 for s in _NARROW)
    _assert_bucketed(spark, wd, 5)

    out = PipelineRunner(spark, base_p, wd, n_partitions=3).run_incremental(
        halves[1]
    )
    assert runner_mod.LAST_FOLD_PATH == "bucket-merge"
    assert all(_manifest(wd, s)["n_buckets"] == 5 for s in _NARROW + _RELINKED)
    _assert_bucketed(spark, wd, 5)
    # the first fold's Spark swap wrote the footers the merge keeps
    assert after_swap(stage_rows(out), "spark-swap") == after_swap(
        full_sets, "spark-swap"
    )


def test_bucket_merge_keeps_int96_timestamps(spark, tmp_path):
    """A stage Spark wrote with a session-zone timestamp column (INT96 in
    parquet, the layout a jsonl/csv/warc-built workdir has) is merged with
    the same physical type: ``read_stage`` returns the old rows minus the
    replaced url plus the new row, under an unchanged schema."""
    from datetime import datetime

    schema = "url string, warc_ts timestamp, n int"
    rows = [(f"https://t.example/{i}", datetime(2020, 1, 1, i % 24), i) for i in range(40)]
    old = spark.createDataFrame(rows, schema)
    wd = str(tmp_path / "wd")
    data = os.path.join(wd, "docs", "data")
    _bucketed(old, 4).write.parquet(data)
    new = spark.createDataFrame([(rows[0][0], datetime(2031, 5, 6, 7, 8, 9), -1)], schema)
    keys = new.select("url", url_bucket(4).alias("_bucket")).toArrow()
    b = keys.column("_bucket")[0].as_py()
    files = {b: [f for f in _part_files(data) if _part_index(f) == b]}

    swap = PipelineRunner(spark, wd, wd)._merge_swap(
        "docs", 4, files, keys, new.toArrow()
    )
    assert swap["rewritten_files"] == 1 and swap["linked_files"] == 3
    rewritten = [f for f in _part_files(data) if _part_index(f) == b]
    col = pq.ParquetFile(os.path.join(data, rewritten[0])).schema.column(1)
    assert col.physical_type == "INT96"
    got = read_stage(spark, data)
    expect = old.where(F.col("url") != rows[0][0]).unionByName(new)
    assert got.schema == old.schema
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0
