"""Output checks. They read committed parquet with pyarrow (no Spark job),
so they add nothing to the Spark work being measured."""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the closed containment/attribute predicates; every other edge predicate is
# an open relation scored against the golden triples (as kg_triple_pr does)
CLOSED_PREDS = ("MENTIONS", "LINKS_TO", "HAS_TYPE")
MIN_PR = 0.95
_MASK = (1 << 64) - 1


def _norm(v):
    """Canonical form of one value: floats rounded (Spark may sum them in
    any order), lists sorted (collect_list order is not defined)."""
    if isinstance(v, float):
        return round(v, 4)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(sorted((_norm(x) for x in v), key=repr))
    return v


def table_checksum(table) -> tuple[int, int]:
    """(rows, order-independent checksum) of a pyarrow table."""
    total = 0
    for row in table.to_pylist():
        digest = hashlib.blake2b(repr(_norm(row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "big")) & _MASK
    return table.num_rows, total


def _stage_table(workdir: str, stage: str, columns=None):
    return pq.read_table(os.path.join(workdir, stage, "data"), columns=columns)


def graph_checksum(workdir: str) -> tuple:
    """Checksums of the committed nodes and edges tables."""
    return tuple(table_checksum(_stage_table(workdir, s)) for s in ("nodes", "edges"))


def edge_pr(workdir: str, golden_edges: str) -> tuple[float, float]:
    """(precision, recall) of the open-relation edges against the golden set."""
    cols = ["subj_id", "pred", "obj_id"]
    edges = _stage_table(workdir, "edges", cols)
    edges = edges.filter(pc.invert(pc.is_in(edges["pred"], value_set=pa.array(CLOSED_PREDS))))
    got = set(zip(*(edges[c].to_pylist() for c in cols)))
    gold_t = pq.read_table(golden_edges, columns=cols)
    gold = set(zip(*(gold_t[c].to_pylist() for c in cols)))
    hit = len(got & gold)
    return hit / max(len(got), 1), hit / max(len(gold), 1)


def pages_under(workdir: str, prefix: str) -> int:
    """Page nodes whose url starts with ``prefix``."""
    nodes = _stage_table(workdir, "nodes", ["node_id", "node_type"])
    ids = nodes.filter(pc.equal(nodes["node_type"], "Page"))["node_id"]
    return pc.sum(pc.starts_with(ids, prefix)).as_py() or 0


def linked_resolved_frac(workdir: str) -> float:
    """Linked mentions that carry an entity_id / all linked mentions."""
    ids = _stage_table(workdir, "linked", ["entity_id"])["entity_id"]
    return (len(ids) - ids.null_count) / max(len(ids), 1)


def manifest_rows(workdir: str, stage: str) -> int:
    with open(os.path.join(workdir, stage, "manifest.json")) as f:
        return json.load(f)["n_rows"]
