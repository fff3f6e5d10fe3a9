"""Committed-stage reads and generated-code reuse on the write path.

``read_stage`` opens a committed stage with the Spark schema stored in its
parquet footer, so it starts no schema-inference job; files without that
footer key fall back to ``spark.read.parquet``. ``get_spark`` sizes the
whole-stage codegen cache to the engine's plan working set, so a repeated
build reuses the classes the first one compiled."""

from __future__ import annotations

import itertools
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

import codegraphcontext_spark.pipeline.runner as runner_mod
from codegraphcontext_spark.pipeline.runner import STAGES, PipelineRunner, read_stage

from .conftest import rollups

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"test-read-stage-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def pages(corpus_dir) -> str:
    return os.path.join(corpus_dir, "pages.parquet")


@pytest.fixture(scope="module")
def built(spark, pages, tmp_path_factory) -> str:
    """A checkpoint="all" build of the smoke corpus; returns its workdir."""
    wd = str(tmp_path_factory.mktemp("read_stage_wd"))
    PipelineRunner(spark, pages, wd).run()
    return wd


@pytest.fixture(scope="module")
def spark_rolled(spark, pages, tmp_path_factory) -> str:
    """The same build with the graph tail forced down the Spark commits
    (cutover 0); returns its workdir."""
    wd = str(tmp_path_factory.mktemp("read_stage_spark_rolled"))
    with pytest.MonkeyPatch.context() as m:
        m.setattr(runner_mod, "_MERGE_MAX_BYTES", 0)
        PipelineRunner(spark, pages, wd).run()
    return wd


def _footer_schemas(data_dir) -> set:
    """(Spark footer schema key, physical Arrow fields) of each part file."""
    out = set()
    for name in os.listdir(data_dir):
        if name.startswith("part-"):
            f = pq.ParquetFile(os.path.join(data_dir, name))
            fields = tuple((x.name, str(x.type), x.nullable) for x in f.schema_arrow)
            out.add((f.metadata.metadata[runner_mod._SPARK_SCHEMA_KEY], fields))
    return out


def test_driver_rolled_graph_reads_like_spark_written(spark, built, spark_rolled):
    """nodes and edges rolled up on the driver carry the footer schema key
    and the physical columns a Spark commit writes, nullability included
    (node_type and n_occurrences are required), so read_stage opens them
    with the same StructType, starting no job, and their rows are the
    Spark commit's."""
    assert rollups(built) == dict.fromkeys(("nodes", "edges"), "pyarrow")
    assert rollups(spark_rolled) == dict.fromkeys(("nodes", "edges"), "spark")
    required = {"nodes": "node_type", "edges": "n_occurrences"}
    for stage, column in required.items():
        dirs = [os.path.join(wd, stage, "data") for wd in (built, spark_rolled)]
        driver, spark_written = (_footer_schemas(d) for d in dirs)
        assert len(driver) == 1 and driver == spark_written, stage
        (key, _), = driver
        assert not StructType.fromJson(json.loads(key))[column].nullable
        frames = []
        for d in dirs:
            df, n_jobs = _jobs(spark, lambda: read_stage(spark, d))
            assert n_jobs == 0, stage
            frames.append(df)
        assert frames[0].schema == frames[1].schema, stage
        assert frames[0].exceptAll(frames[1]).count() == 0, stage
        assert frames[1].exceptAll(frames[0]).count() == 0, stage


def test_graph_tail_below_cutover_starts_no_job(spark, pages, built, tmp_path):
    """Below the cutover the graph tail reads its committed inputs and
    writes nodes and edges on the driver without a Spark job."""
    wd = str(tmp_path / "wd")
    shutil.copytree(built, wd)
    runner = PipelineRunner(spark, pages, wd)
    inputs = [runner._load(s) for s in ("docs", "canon", "links", "edge_occurrences")]
    (nodes, edges), n_jobs = _jobs(spark, lambda: runner._commit_graph(*inputs))
    assert n_jobs == 0
    assert rollups(wd) == dict.fromkeys(("nodes", "edges"), "pyarrow")
    assert nodes.count() == runner.metrics["nodes"]["n_rows"] > 0
    assert edges.count() == runner.metrics["edges"]["n_rows"] > 0


def test_repeat_build_reuses_generated_code(spark, pages, built, tmp_path):
    """A second identical build in the same JVM finds every whole-stage class
    the first one compiled still cached: at Spark's default 100 entries
    the LRU evicted them all and the repeat compiled about 200 again."""
    before = _compilations(spark)
    PipelineRunner(spark, pages, str(tmp_path / "wd")).run()
    assert _compilations(spark) - before <= 10


def test_read_stage_matches_inferred_read_without_a_job(spark, built):
    inferred_jobs = 0
    for stage in STAGES:
        data = os.path.join(built, stage, "data")
        pinned, n_jobs = _jobs(spark, lambda: read_stage(spark, data))
        assert n_jobs == 0, stage
        inferred, n_jobs = _jobs(spark, lambda: spark.read.parquet(data))
        inferred_jobs += n_jobs
        assert pinned.schema == inferred.schema, stage
        assert pinned.count() == inferred.count(), stage
        assert pinned.exceptAll(inferred).count() == 0, stage
        assert inferred.exceptAll(pinned).count() == 0, stage
    # the counter sees the inference jobs read_stage avoids
    assert inferred_jobs > 0


def test_read_stage_falls_back_without_spark_footer(spark, tmp_path):
    """A pyarrow-written directory carries no Spark schema key: read_stage
    infers, as spark.read.parquet does."""
    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(
        pa.table({"url": ["a", "b"], "n": pa.array([1, 2], pa.int64())}),
        str(data / "part-00000.parquet"),
    )
    df = read_stage(spark, str(data))
    assert df.schema.simpleString() == "struct<url:string,n:bigint>"
    assert sorted(tuple(r) for r in df.collect()) == [("a", 1), ("b", 2)]


def test_empty_committed_stage_reads_with_its_schema(spark, pages, tmp_path):
    runner = PipelineRunner(spark, pages, str(tmp_path / "wd"))
    empty = spark.createDataFrame([], "url string, sent_id int, surface string")
    committed = runner._commit("empty", empty)
    assert runner.metrics["empty"]["n_rows"] == 0
    data = os.path.join(str(tmp_path / "wd"), "empty", "data")
    df, n_jobs = _jobs(spark, lambda: read_stage(spark, data))
    assert n_jobs == 0
    assert df.schema == committed.schema == spark.read.parquet(data).schema
    assert df.schema.simpleString() == "struct<url:string,sent_id:int,surface:string>"
    assert df.count() == 0
