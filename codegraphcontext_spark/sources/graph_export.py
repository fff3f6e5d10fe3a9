"""Sink layer: export the materialized graph to line-oriented interchange
formats for downstream loaders (the reference's counterpart is pushing the
graph into Neo4j, ``graph_builder.py``; ours is handing node/edge files to
whatever system comes next — a bulk loader, a feature store, a viz tool).

Distributed writes: ``df.write.json/csv`` fan out one file per partition —
no driver-side collect, so a 100 TB edge table exports at scan bandwidth.
The ``single_file`` knob coalesces to one partition for small hand-off
files (explicitly the non-scale path, for tooling that wants one file)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.runner import read_stage

__all__ = ["export_graph"]

_FORMATS = ("jsonl", "csv")


def _write(df: DataFrame, out: str, fmt: str, single_file: bool) -> None:
    if single_file:
        df = df.coalesce(1)
    if fmt == "jsonl":
        df.write.mode("overwrite").json(out)
    else:
        df.write.mode("overwrite").option("header", True).csv(out)


def export_graph(
    spark: SparkSession,
    workdir: str,
    out_dir: str,
    fmt: str = "jsonl",
    single_file: bool = False,
) -> dict[str, int]:
    """Export ``<workdir>/nodes|edges/data`` to ``<out_dir>/nodes|edges``
    in ``fmt`` ('jsonl' or 'csv'); returns exported row counts."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported export format: {fmt!r} (use {_FORMATS})")
    counts: dict[str, int] = {}
    for name in ("nodes", "edges"):
        df = read_stage(spark, os.path.join(workdir, name, "data"))
        _write(df, os.path.join(out_dir, name), fmt, single_file)
        counts[name] = df.count()
    return counts
