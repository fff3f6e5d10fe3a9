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


def _hashable(v):
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_hashable(x) for x in v)
    return v


def stage_rows(out) -> dict:
    """Row multiset of every one of the ten stages a runner returns, so a
    fold or delete can be compared with a build stage by stage (a wrong
    ``linked`` or ``edge_occurrences`` row can roll up to the right edges)."""
    from collections import Counter

    from codegraphcontext_spark.pipeline.runner import STAGES

    return {
        s: Counter(
            _hashable(r) for r in out[s].select(*sorted(out[s].columns)).collect()
        )
        for s in STAGES
    }
