"""Shared fixtures: one SparkSession, one smoke corpus, one pipeline run per
session (the analog of the reference's module-scoped indexed_project fixture,
reference tests/conftest.py:100-132)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from codegraphcontext_spark.datagen.pages import generate_corpus  # noqa: E402
from codegraphcontext_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cgc-spark-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("corpus") / "smoke")
    generate_corpus(out, 200)
    return out


@pytest.fixture(scope="session")
def pipeline_out(spark, corpus_dir, tmp_path_factory):
    from codegraphcontext_spark.pipeline.runner import run_pipeline

    wd = str(tmp_path_factory.mktemp("workdir"))
    return run_pipeline(spark, os.path.join(corpus_dir, "pages.parquet"), wd)


def golden(spark, corpus_dir: str, name: str):
    return spark.read.parquet(os.path.join(corpus_dir, f"golden_{name}.parquet"))


@pytest.fixture(params=["bucket-merge", "spark-swap"])
def fold_path(request, monkeypatch):
    """The narrow-stage path a fold or delete takes: the driver-side bucket
    merge at the default cutovers, or the Spark swap with both cutovers
    forced to 0. Tests assert ``runner.LAST_FOLD_PATH`` against it."""
    from codegraphcontext_spark.pipeline import runner

    if request.param == "spark-swap":
        monkeypatch.setattr(runner, "_MERGE_MAX_URLS", 0)
        monkeypatch.setattr(runner, "_MERGE_MAX_BYTES", 0)
    return request.param


@pytest.fixture(params=["pyarrow", "spark"])
def graph_rollup(request, monkeypatch):
    """The branch the nodes/edges commit takes: the driver-side pyarrow
    rollup at the default cutover, or the Spark commits with the cutover
    forced to 0 for the graph tail only (the narrow stages keep the path
    ``fold_path`` picks). Tests assert the ``rollup`` field of the nodes
    and edges manifests against it."""
    from codegraphcontext_spark.pipeline import runner

    if request.param == "spark":
        real = runner.PipelineRunner._commit_graph

        def commit_graph(self, *a, **kw):
            with monkeypatch.context() as m:
                m.setattr(runner, "_MERGE_MAX_BYTES", 0)
                return real(self, *a, **kw)

        monkeypatch.setattr(runner.PipelineRunner, "_commit_graph", commit_graph)
    return request.param


# The (narrow-stage path, graph rollup) pairs a mutation test runs on: a
# bucket-merge fold with either rollup, and a Spark-swap fold, whose
# zeroed cutover sends the graph tail down the Spark commits as well.
BRANCHES = pytest.mark.parametrize(
    ("fold_path", "graph_rollup"),
    [("bucket-merge", "pyarrow"), ("spark-swap", "spark"), ("bucket-merge", "spark")],
    ids=["bucket-merge", "spark-swap", "bucket-merge-spark-rollup"],
    indirect=True,
)


def rollups(workdir: str) -> dict:
    """The ``rollup`` field of the nodes and edges manifests."""
    import json

    out = {}
    for stage in ("nodes", "edges"):
        with open(os.path.join(workdir, stage, "manifest.json")) as f:
            out[stage] = json.load(f).get("rollup")
    return out


def _hashable(v):
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_hashable(x) for x in v)
    return v


def _footer_keys(df) -> frozenset:
    """The Spark schema key in the parquet footer of every file ``df``
    reads (None for a file without one)."""
    from urllib.parse import urlparse
    from urllib.request import url2pathname

    import pyarrow.parquet as pq

    key = b"org.apache.spark.sql.parquet.row.metadata"
    return frozenset(
        (pq.read_metadata(url2pathname(urlparse(f).path)).metadata or {}).get(key)
        for f in df.inputFiles()
    )


def stage_rows(out) -> dict:
    """Schema, footer schema keys and row multiset of every one of the ten
    stages a runner returns, so a fold or delete can be compared with a
    build stage by stage (a wrong ``linked`` or ``edge_occurrences`` row
    can roll up to the right edges), and a driver-written stage with a
    Spark-written one."""
    from collections import Counter

    from codegraphcontext_spark.pipeline.runner import STAGES

    return {
        s: (
            out[s].schema,
            _footer_keys(out[s]),
            Counter(
                _hashable(r) for r in out[s].select(*sorted(out[s].columns)).collect()
            ),
        )
        for s in STAGES
    }


def after_swap(rows: dict, fold_path: str) -> dict:
    """``stage_rows`` as a fold or delete down ``fold_path`` can match a
    build: a Spark swap rewrites the narrow stages from the all-nullable
    read of their old files, so their footer keys lose the NOT NULL the
    build's plan wrote (``read_stage`` opens every column nullable, so no
    reader sees it); those keys are compared with every field nullable."""
    import json

    from pyspark.sql.types import StructType

    from codegraphcontext_spark.pipeline.runner import _NARROW

    def nullable(key):
        fields = json.loads(key)["fields"]
        return StructType.fromJson(
            {"type": "struct", "fields": [{**f, "nullable": True} for f in fields]}
        )

    if fold_path != "spark-swap":
        return rows
    return {
        s: (schema, frozenset(map(nullable, keys)), counts) if s in _NARROW
        else (schema, keys, counts)
        for s, (schema, keys, counts) in rows.items()
    }
