"""End-to-end pipeline runner with per-stage checkpoints, lineage, and resume.

The reference tracks jobs in memory and loses them on restart (reference
``core/jobs.py:65-133``; ``server.py:713`` "jobs lost on restart"). The north
rule upgrades this to idempotent resume: every stage writes its output as
Parquet plus a ``manifest.json`` (stage name, input fingerprint, row count,
per-partition lineage rows, wall ms). A re-run skips any stage whose manifest
exists and whose input fingerprint matches — kill the job between stages and
rerun: identical result, no recompute of committed stages
(tests/test_resume.py).

Layout (the "Iceberg-snapshot" seam of SURVEY.md §7.3 — same contract, plain
Parquet + manifests since no Iceberg jars ship in this sandbox; swap TableIO
to Iceberg MERGE/snapshots on a real cluster):

    <workdir>/<stage>/data/...parquet
    <workdir>/<stage>/lineage/...parquet   (partition_id, n_rows)
    <workdir>/<stage>/manifest.json

Stage boundaries repartition by xxhash64(url) so partition->content mapping
is stable across runs and cluster sizes (north rule: per-partition lineage
rows are meaningful and resume is deterministic).

Bucket contract of the url-partitioned stages: a commit with ``n`` buckets
writes every row whose url has ``url_bucket(n)`` = b (Spark's own
``HashPartitioning`` of ``repartition(n, xxhash64(url))``) into the part
file(s) named ``part-<b>-<uuid>...``, and records ``n`` as ``n_buckets`` in
the stage manifest. A small delta fold or delete relies on it: it rewrites
only the part files of the buckets its urls hash to, on the driver, and
hard-links every other file into the new data directory (``_merge_swap``).
A manifest without ``n_buckets`` (written by older code) sends the mutation
down the Spark swap, which re-buckets the whole stage and records it.

The contract covers the five narrow stages (docs, sentences, triples, defs,
links) and the two url-keyed global stages, ``linked`` and
``edge_occurrences``; the latter keeps its (subj_id, pred, obj_id) sort
within each bucket. canon, nodes and edges are not bucketed. A fold whose
delta provably leaves canon unchanged relinks only the delta's mentions and
merges ``linked`` and ``edge_occurrences`` bucket by bucket the same way
(``run_incremental``); an ``edge_occurrences`` manifest without
``n_buckets`` sends the fold down the full recompute, which re-buckets it.

Graph-tail contract: every build, fold and delete ends by committing nodes
and edges through ``_commit_graph``, after ``edge_occurrences``. Its inputs
are docs, canon, links and edge_occurrences. When all four are committed
under the current fingerprint and their part files together hold at most
``_MERGE_MAX_BYTES``, the driver reads the columns it needs with pyarrow and
rolls the two tables up there (``graph_nodes_table``, ``edges_table``),
starting no Spark job. Each table is cast to the schema of the Spark plan it
stands in for (``graph_nodes`` / ``edges_from_occurrences``; ``.schema`` is
analysis only), sorted by the stage's ``_LAYOUT_SORT`` key and written as
one part file, with Spark's footer schema key, into ``<stage>/data_new``
(a crashed attempt's leftover is cleared first). ``_swap_in`` then makes it
``data``, and lineage and manifest follow as in ``_commit``: nodes is
committed whole before edges starts. Above the cutover, or when an input is
not committed (canon and links are fused under checkpoint="minimal"), the
Spark commits run instead. The nodes and edges manifests name the branch in
``rollup``: ``"pyarrow"`` or ``"spark"``.

Reads of a committed stage go through ``read_stage``: the Spark schema the
writer stored in a part file's footer (key
``org.apache.spark.sql.parquet.row.metadata``) is read on the driver with
pyarrow and handed to ``spark.read.schema(...)``, so opening a stage starts
no schema-inference job (on Iceberg the schema comes from table metadata the
same way). Every part file of a stage comes from one write, so one footer
speaks for all of them. A directory with no part file carrying that key (a
pyarrow-written table, a missing path) is read with plain
``spark.read.parquet`` and its inference.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..extract import EXTRACTOR_VERSION, extract_stage
from .canon import canonicalize_entities, norm_expr
from .linking import build_dictionary, link_mentions, mentions_long
from .materialize import (
    edges_from_occurrences,
    edges_table,
    graph_nodes,
    graph_nodes_table,
    occurrences,
)
from .segment import segment_stage
from ..sources import read_pages
from .triples import defs_stage, links_stage, patterns_df, triples_stage

STAGES = [
    "docs", "sentences", "triples", "defs", "links", "canon", "linked",
    "nodes", "edges", "edge_occurrences",
]

# Version of the PERSISTED stage layout (schemas + winner semantics), folded
# into every workdir fingerprint. Bump whenever a stage's written schema or
# its row-selection rule changes (e.g. round 2 added docs.snap_md5 and moved
# the snapshot tie-break to md5(html)) so a workdir committed by older code
# rebuilds instead of being resumed into an AnalysisException or silently
# serving rows chosen under the old rule. EXTRACTOR_VERSION covers only the
# html->text function; this covers everything downstream of it.
# v3: edge_occurrences provenance table added
# v4: sentences stage carries the page lang tag (per-language extraction)
PIPELINE_LAYOUT_VERSION = 4


# stages always committed, even under checkpoint="minimal": the expensive
# Python-extraction output, the linked mention table, and the graph itself.
_MINIMAL_COMMITS = frozenset({"docs", "linked", "nodes", "edges", "edge_occurrences"})

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# the narrow, url-partitioned stages a delta fold or a delete rewrites
_NARROW = ("docs", "sentences", "triples", "defs", "links")

# Cutover of the driver-side bucket merge: a fold or delete whose urls number
# at most _MERGE_MAX_URLS, and whose touched part files (all five narrow
# stages together) hold at most _MERGE_MAX_BYTES on disk, is merged by
# pyarrow on the driver; above either, the Spark swap rewrites every part
# file, which is the only path that holds a TB-scale delta. The url bound
# also bounds the fetched delta pages (html included) in driver memory.
_MERGE_MAX_URLS = 1_000
_MERGE_MAX_BYTES = 128 << 20

# the url-keyed global stages a canon-stable fold merges bucket by bucket
_RELINKED = ("linked", "edge_occurrences")

# the graph tail's inputs and the columns its driver rollup reads of each
_GRAPH_INPUTS = {
    "docs": ["url", "lang"],
    "canon": ["entity_id", "label", "etype"],
    "links": ["domain"],
    "edge_occurrences": ["subj_id", "pred", "obj_id", "url", "sent_id"],
}

# which path the last narrow-stage swap of a run_incremental / run_delete in
# this process took: "bucket-merge" or "spark-swap" (the tests pin both)
LAST_FOLD_PATH: str | None = None

# which global tail the last run_incremental / run_delete in this process
# took: "scoped" (canon kept, the delta's mentions relinked and merged) or
# "recomputed" (_recompute_globals)
LAST_GLOBALS_PATH: str | None = None


def _url_key() -> Column:
    return F.xxhash64("url")


def url_bucket(n_buckets: int) -> Column:
    """The bucket, i.e. the part-file index, that ``_bucketed(df, n)`` sends
    a row's url to: Spark's ``HashPartitioning`` is ``pmod(murmur3(keys), n)``
    and ``F.hash`` is that murmur3, seed included."""
    return F.pmod(F.hash(_url_key()), F.lit(n_buckets))


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    """Lay a url-keyed frame out as ``n_buckets`` url-hash partitions."""
    return df.repartition(n_buckets, _url_key())


def _part_index(name: str) -> int | None:
    """The partition index in Spark's ``part-00017-<uuid>`` file naming."""
    m = re.match(r"part-(\d+)-", name)
    return int(m.group(1)) if m else None


def _part_files(data_dir: str) -> list[str]:
    """Sorted parquet part-file names of a stage directory (no _SUCCESS,
    no hidden checksum or temp files)."""
    return sorted(
        f for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def read_stage(spark: SparkSession, data_dir: str) -> DataFrame:
    """Read a committed stage with the schema in its first part file's
    footer (no inference job); fall back to ``spark.read.parquet`` when no
    part file carries Spark's schema key."""
    import pyarrow.parquet as pq

    try:
        first = os.path.join(data_dir, _part_files(data_dir)[0])
        meta = pq.read_metadata(first).metadata or {}
    except (OSError, IndexError):
        meta = {}
    if _SPARK_SCHEMA_KEY not in meta:
        return spark.read.parquet(data_dir)
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(data_dir)


class PipelineRunner:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        workdir: str,
        n_partitions: int | None = None,
        checkpoint: str = "all",
    ) -> None:
        """checkpoint: "all" commits every stage (finest resume granularity,
        the production default per the north rule) — "minimal" commits only
        docs/linked/nodes/edges and FUSES the narrow JVM stages (segment,
        triple/def/link extraction, canon) into their consumers' plans,
        roughly halving the job count and write barriers. Resume still works
        from each committed snapshot, just at coarser granularity.
        run_incremental requires an "all" build (it merges per-stage data)."""
        assert checkpoint in ("all", "minimal")
        self.spark = spark
        self.pages_path = pages_path
        self.workdir = workdir
        self.n_partitions = n_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        self.checkpoint = checkpoint
        self.metrics: dict[str, dict] = {}
        # delta signatures folded in by an in-flight run_incremental but not
        # yet durably recorded in _ingested.json — the fingerprint includes
        # them so manifests are written delta-inclusive, while the on-disk
        # record lands only after EVERY stage committed (crash anywhere in
        # between -> retry redoes the merge, which both swap paths tolerate;
        # recording first would silently drop the delta on crash).
        # A durable copy lives in _pending.json from the first directory
        # swap until _record_ingested: a crash inside that window otherwise
        # leaves manifests carrying a fingerprint no fresh runner can
        # reproduce, and a plain run() would silently rebuild from the BASE
        # pages — resurrecting deleted urls / dropping the delta.
        self._pending_sigs: list[str] = []
        self._heal_swaps()
        pend = self._pending()
        if pend:
            self._pending_sigs = [pend["sig"]]

    # -- checkpoint plumbing --------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    @staticmethod
    def _path_sig(path: str) -> str:
        try:
            if os.path.isdir(path):  # sharded corpus dir: fold every file in
                parts = sorted(os.listdir(path))
                stats = [os.stat(os.path.join(path, p)) for p in parts]
                tot = sum(s.st_size for s in stats)
                mt = max(
                    [os.stat(path).st_mtime_ns] + [s.st_mtime_ns for s in stats]
                )
                return f"{path}:{len(parts)}:{tot}:{mt}"
            stat = os.stat(path)
            return f"{path}:{stat.st_mtime_ns}:{stat.st_size}"
        except OSError:
            return path

    def _ingested(self) -> list[str]:
        """Signatures of delta snapshots already folded in via incremental."""
        p = os.path.join(self.workdir, "_ingested.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return []

    @staticmethod
    def _write_json_atomic(path: str, obj) -> None:
        """Crash-safe JSON write: a truncated record file would brick every
        later runner (they read these in __init__ / preconditions)."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    def _record_ingested(self, sig: str) -> None:
        sigs = self._ingested() + [sig]
        os.makedirs(self.workdir, exist_ok=True)
        self._write_json_atomic(
            os.path.join(self.workdir, "_ingested.json"), sigs
        )

    # -- in-flight mutation record (crash-safe retry) -------------------------
    def _pending_path(self) -> str:
        return os.path.join(self.workdir, "_pending.json")

    def _pending(self) -> dict | None:
        p = self._pending_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def _begin_mutation(self, base_sig: str, kind: str, arg: str) -> str:
        """Open (or resume) a mutation. Returns the positional signature:
        ``base@<chain position>`` — unique per APPLICATION, so re-running the
        same mutation after an interleaved ingest re-applies instead of
        silently no-opping, while an exact crash-retry reuses the recorded
        pending signature and redoes the (idempotent) swaps."""
        pend = self._pending()
        if pend:
            if pend["base_sig"] != base_sig:
                raise RuntimeError(
                    f"an interrupted {pend['kind']} mutation "
                    f"({pend['arg']!r}) is pending in {self.workdir}; re-run "
                    "it to completion before starting a different mutation"
                )
            self._pending_sigs = [pend["sig"]]
            return pend["sig"]
        sig = f"{base_sig}@{len(self._ingested())}"
        os.makedirs(self.workdir, exist_ok=True)
        self._write_json_atomic(
            self._pending_path(),
            {"sig": sig, "base_sig": base_sig, "kind": kind, "arg": arg},
        )
        self._pending_sigs = [sig]
        return sig

    def _require_no_other_pending(self, base_sig: str) -> None:
        """Raise the accurate cross-mutation error when a DIFFERENT mutation
        is pending — before any precondition that would otherwise misfire
        (an interrupted mutation legitimately leaves mixed manifests, so
        the 'needs a base build' check would give the wrong diagnosis AND
        the wrong remedy)."""
        pend = self._pending()
        if pend is not None and pend["base_sig"] != base_sig:
            raise RuntimeError(
                f"an interrupted {pend['kind']} mutation "
                f"({pend['arg']!r}) is pending in {self.workdir}; re-run "
                "it to completion before starting a different mutation"
            )

    def _finish_mutation(self, sig: str) -> None:
        self._record_ingested(sig)
        os.remove(self._pending_path())
        self._pending_sigs = []

    def _applied_last(self, base_sig: str) -> bool:
        """True iff this mutation is the MOST RECENT durably-recorded one —
        the only case where re-running it is a guaranteed no-op (an
        interleaved ingest may have re-added urls a delete matched, or
        deleted urls a delta carried)."""
        ing = self._ingested()
        return bool(ing) and ing[-1].rsplit("@", 1)[0] == base_sig

    def _fingerprint(self) -> str:
        """Input fingerprint: pages path + mtime-ish + extractor version +
        pipeline layout version + every ingested delta snapshot. On Iceberg
        this is the input snapshot id chain."""
        base = (
            f"v{EXTRACTOR_VERSION}.L{PIPELINE_LAYOUT_VERSION}:"
            f"{self._path_sig(self.pages_path)}"
        )
        deltas = self._ingested() + self._pending_sigs
        return base + ("+" + "+".join(deltas) if deltas else "")

    def _committed(self, stage: str) -> bool:
        mpath = os.path.join(self._dir(stage), "manifest.json")
        if not os.path.exists(mpath):
            return False
        with open(mpath) as f:
            m = json.load(f)
        return m.get("input_fingerprint") == self._fingerprint()

    # Layout sort keys per stage: sortWithinPartitions before the write so
    # parquet row-group min/max statistics actually prune point lookups
    # (graph queries filter on node_id/subj_id; an unsorted row group spans
    # the whole key range and prunes nothing). A narrow in-partition sort,
    # no extra shuffle — at 100 TB this is the poor-man's Z-order.
    _LAYOUT_SORT = {
        "nodes": ["node_id"],
        "edges": ["subj_id", "pred", "obj_id"],
        "edge_occurrences": ["subj_id", "pred", "obj_id"],
    }

    def _commit(
        self, stage: str, df: DataFrame, by_url: bool = True,
        n_buckets: int | None = None, **fields,
    ) -> DataFrame:
        """Write stage output + lineage + manifest; return the re-read frame
        (so downstream lineage starts from the committed files). A url-keyed
        stage is laid out as ``n_buckets`` (default ``n_partitions``) url
        buckets; ``fields`` go into the manifest as they are."""
        t0 = time.time()
        d = self._dir(stage)
        out = os.path.join(d, "data")
        by_url = by_url and "url" in df.columns
        n_buckets = n_buckets or self.n_partitions
        if by_url:
            df = _bucketed(df, n_buckets)
        if stage in self._LAYOUT_SORT:
            df = df.sortWithinPartitions(*self._LAYOUT_SORT[stage])
        df.write.mode("overwrite").parquet(out)
        # a bucket merge or driver rollup that crashed mid-assembly and was
        # retried down a Spark write leaves its data_new behind; nothing
        # else reads it
        shutil.rmtree(os.path.join(d, "data_new"), ignore_errors=True)
        if by_url:
            fields["n_buckets"] = n_buckets
        return self._record_commit(stage, t0, fields)

    def _record_commit(self, stage: str, t0: float, fields: dict) -> DataFrame:
        """Lineage + manifest of a stage whose data just landed in its
        ``data`` directory (``t0``: when its commit started); returns the
        committed frame."""
        d = self._dir(stage)
        committed = self._load(stage)
        n = self._write_lineage(d)
        manifest = {
            "stage": stage,
            "input_fingerprint": self._fingerprint(),
            "n_rows": n,
            "wall_ms": int((time.time() - t0) * 1000),
            "extractor_version": EXTRACTOR_VERSION,
            **fields,
        }
        self._write_json_atomic(os.path.join(d, "manifest.json"), manifest)
        self.metrics[stage] = manifest
        return committed

    def _commit_graph(
        self, docs: DataFrame, canon: DataFrame, links: DataFrame,
        occ: DataFrame, **fields,
    ) -> tuple[DataFrame, DataFrame]:
        """Commit nodes and edges: the graph tail of every build, fold and
        delete (contract in the module docstring). ``fields`` go into both
        manifests, with ``rollup`` naming the branch taken."""
        plans = {
            "nodes": graph_nodes(docs, canon, links),
            "edges": edges_from_occurrences(occ),
        }
        inputs = self._graph_inputs()
        if inputs is None:
            return tuple(
                self._commit(s, df, by_url=False, rollup="spark", **fields)
                for s, df in plans.items()
            )
        tables = {
            "nodes": graph_nodes_table(inputs["docs"], inputs["canon"], inputs["links"]),
            "edges": edges_table(inputs["edge_occurrences"]),
        }
        return tuple(
            self._commit_table(s, tables[s], df, rollup="pyarrow", **fields)
            for s, df in plans.items()
        )

    def _graph_inputs(self) -> dict | None:
        """The graph tail's inputs (``_GRAPH_INPUTS``) as Arrow tables read
        from their part files, or None when the Spark branch must run: an
        input not committed under the current fingerprint (a stage fused
        under checkpoint="minimal"), one without part files, or part files
        holding more than _MERGE_MAX_BYTES in all."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = {}
        for stage in _GRAPH_INPUTS:
            data = os.path.join(self._dir(stage), "data")
            if not self._committed(stage) or not os.path.isdir(data):
                return None
            files[stage] = [os.path.join(data, f) for f in _part_files(data)]
            if not files[stage]:
                return None
        if sum(os.stat(f).st_size for fs in files.values() for f in fs) > _MERGE_MAX_BYTES:
            return None
        return {
            s: pa.concat_tables(
                [pq.read_table(f, columns=_GRAPH_INPUTS[s]) for f in fs],
                promote_options="permissive",
            )
            for s, fs in files.items()
        }

    def _commit_table(
        self, stage: str, table, plan: DataFrame, **fields
    ) -> DataFrame:
        """Commit an Arrow table as ``_commit`` would commit ``plan``, the
        Spark plan it stands in for: cast to the plan's schema (analysis
        only, no job), sorted by the stage's layout key, written by pyarrow
        with Spark's footer schema key into ``data_new`` (a crashed
        attempt's leftover is cleared first), swapped in by ``_swap_in``,
        then lineage and manifest. One part file, not url-bucketed."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        t0 = time.time()
        tmp = os.path.join(self._dir(stage), "data_new")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # Spark's own compact schema JSON (key order as the JVM writes it)
        footer = json.dumps(plan.schema.jsonValue(), separators=(",", ":"))
        schema = to_arrow_schema(plan.schema).with_metadata({
            _SPARK_SCHEMA_KEY: footer, b"org.apache.spark.version": self.spark.version,
        })
        table = table.select(schema.names).cast(schema)
        if stage in self._LAYOUT_SORT:
            table = table.sort_by(
                [(c, "ascending") for c in self._LAYOUT_SORT[stage]],
                null_placement="at_start",
            )
        pq.write_table(
            table,
            os.path.join(tmp, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"),
        )
        self._swap_in(stage)
        return self._record_commit(stage, t0, fields)

    def _write_lineage(self, stage_dir: str) -> int:
        """Per-partition lineage rows (partition_id, n_rows) from the parquet
        FOOTERS of the just-written files — driver-side metadata reads, zero
        Spark jobs (the old groupBy(input_file_name) cost a full re-scan +
        shuffle per stage; at 100 TB footers are the only sane source).
        Returns the total row count."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        data_dir = os.path.join(stage_dir, "data")
        parts = _part_files(data_dir)
        import hashlib

        ids, counts = [], []
        for fname in parts:
            meta = pq.ParquetFile(os.path.join(data_dir, fname)).metadata
            # stable partition id: the partition index encoded in Spark's
            # part-00017-<uuid> naming — survives re-listing order. Files
            # from other committers / compaction don't match the pattern;
            # fall back to a stable filename hash instead of failing the
            # whole stage commit.
            idx = _part_index(fname)
            if idx is None:
                idx = int.from_bytes(
                    hashlib.md5(fname.encode()).digest()[:8], "big"
                ) >> 1
            ids.append(idx)
            counts.append(meta.num_rows)
        # tmp-then-rename, like _write_json_atomic: a crash mid-write leaves
        # the previous lineage file in place, never a missing or torn one.
        # The _-prefixed temp name is invisible to parquet directory readers.
        lineage_dir = os.path.join(stage_dir, "lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        tmp = os.path.join(lineage_dir, "_lineage.parquet.tmp")
        pq.write_table(
            pa.table({
                "partition_id": pa.array(ids, pa.int64()),
                "n_rows": pa.array(counts, pa.int64()),
            }),
            tmp,
        )
        os.replace(tmp, os.path.join(lineage_dir, "lineage.parquet"))
        return sum(counts)

    def _load(self, stage: str) -> DataFrame:
        return read_stage(self.spark, os.path.join(self._dir(stage), "data"))

    def _stage(self, stage: str, build) -> DataFrame:
        if self._committed(stage):
            self.metrics[stage] = {"stage": stage, "resumed": True}
            return self._load(stage)
        if self.checkpoint == "minimal" and stage not in _MINIMAL_COMMITS:
            # fused: no parquet commit / manifest / url-hash shuffle. The lazy
            # localCheckpoint materializes the stage ONCE on first use (most
            # fused stages feed two consumers) without a commit barrier.
            self.metrics[stage] = {"stage": stage, "fused": True}
            return build().localCheckpoint(eager=False)
        return self._commit(stage, build())

    # -- the pipeline ----------------------------------------------------------
    # Snapshot winner rule, shared by EVERY path that picks one snapshot per
    # url (full docs build, full links build, incremental delta fold):
    # latest warc_ts wins; ties break on md5(html) descending. One rule means
    # incremental == full rebuild for any dup/tie layout (round-1 used
    # md5(text_extracted) in one path and md5(html) in another, so equal-ts
    # snapshots could diverge between the two paths).
    @staticmethod
    def _winner_order():
        return [F.col("warc_ts").desc(), F.col("snap_md5").desc()]

    @staticmethod
    def _dup_urls(pages: DataFrame) -> DataFrame:
        """urls with >1 snapshot — a pruned url-only scan (columnar, no html).
        If a crawl has a LARGE dup fraction this outgrows the broadcast —
        swap the hint below for a shuffle join; rows shuffled are still only
        the dup subset."""
        return (
            pages.groupBy("url")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
            .select("url")
        )

    def run(self) -> dict[str, DataFrame]:
        pend = self._pending()
        if pend:
            # manifests may carry the pending-inclusive fingerprint; a plain
            # run() would see a mismatch and silently rebuild every stage
            # from the BASE pages — resurrecting deleted urls / dropping the
            # delta. Force the caller to complete the mutation instead.
            raise RuntimeError(
                f"interrupted {pend['kind']} mutation ({pend['arg']!r}) is "
                f"pending in {self.workdir}; re-run it to completion "
                "(retry is idempotent) before a plain run()"
            )
        spark = self.spark
        pages = read_pages(spark, self.pages_path)

        def build_docs() -> DataFrame:
            # EXTRACT FIRST (narrow map over the scan partitions — the raw
            # html blobs never cross a shuffle), then latest-wins dedup that
            # only shuffles rows whose url actually HAS duplicate snapshots:
            #   1. dup_urls from a pruned url-only scan of the raw pages,
            #   2. non-dup rows pass through NARROW (no shuffle at all),
            #   3. dup rows (the tiny recrawled subset) window-dedup with the
            #      shared winner rule; snap_md5 = md5(html) is computed
            #      BEFORE extraction and rides along as a narrow column, so
            #      the window shuffles extracted text + 32 hex chars, never
            #      the html blob.
            # The naive window-over-everything alternative shuffles the whole
            # corpus text (measured: the one flat-cost stage at any core
            # count). snap_md5 is kept in the docs output: the incremental
            # path needs it to resolve equal-warc_ts delta-vs-base ties with
            # the same rule.
            dup_urls = self._dup_urls(pages)
            p = pages.withColumn("snap_md5", F.md5("html"))
            keep = ("url", "warc_ts", "lang", "snap_md5")
            # split the RAW pages on the broadcast so each page is extracted
            # exactly once (splitting after extraction would run the Python
            # stage twice over the corpus)
            no_dup = extract_stage(
                p.join(F.broadcast(dup_urls), "url", "left_anti"), keep=keep
            )
            w = Window.partitionBy("url").orderBy(*self._winner_order())
            dup_latest = (
                extract_stage(
                    p.join(F.broadcast(dup_urls), "url", "left_semi"), keep=keep
                )
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
            return no_dup.unionByName(dup_latest).select(
                "url", "warc_ts", "lang", "snap_md5", "text_extracted"
            )

        def build_links() -> DataFrame:
            # Links must come from the SAME winning snapshot as docs (a url
            # whose snapshots have different outlinks would otherwise give an
            # incremental != full divergence). Winner keys are computed from
            # a NARROW projection (html is read to hash but pruned before the
            # window shuffle); the raw winner rows are then recovered with a
            # broadcast semi-join, so html itself never crosses a shuffle.
            # It scans the same ``pages`` frame as build_docs: one read (and
            # one schema resolution) of the raw pages per run.
            dup_urls = self._dup_urls(pages)
            no_dup = pages.join(F.broadcast(dup_urls), "url", "left_anti").select(
                "url", "html"
            )
            w = Window.partitionBy("url").orderBy(*self._winner_order())
            win_keys = (
                pages.join(F.broadcast(dup_urls), "url", "left_semi")
                .select("url", "warc_ts", F.md5("html").alias("snap_md5"))
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("url", "warc_ts", "snap_md5")
            )
            dup_win = (
                pages.join(F.broadcast(dup_urls), "url", "left_semi")
                .withColumn("snap_md5", F.md5("html"))
                .join(
                    F.broadcast(win_keys),
                    on=["url", "warc_ts", "snap_md5"],
                    how="left_semi",
                )
                .select("url", "html")
            )
            # links_stage ends in .distinct(), which absorbs the byte-identical
            # duplicate-row edge case the key join cannot separate.
            return links_stage(no_dup.unionByName(dup_win))

        docs = self._stage("docs", build_docs)
        sentences = self._stage("sentences", lambda: segment_stage(docs))
        pats = patterns_df(spark)
        triples = self._stage("triples", lambda: triples_stage(sentences, pats))
        defs = self._stage("defs", lambda: defs_stage(sentences))
        links = self._stage("links", build_links)
        canon = self._stage("canon", lambda: canonicalize_entities(defs))
        linked = self._stage(
            "linked",
            lambda: link_mentions(mentions_long(triples, defs), build_dictionary(canon)),
        )

        graph_stages = ("nodes", "edges", "edge_occurrences")
        if all(self._committed(s) for s in graph_stages):
            nodes, edges, occ = (self._load(s) for s in graph_stages)
            for s in graph_stages:
                self.metrics[s] = {"stage": s, "resumed": True}
        else:
            # occurrences first: edges is its rollup, derived from the
            # committed parquet so the resolution joins run exactly once.
            # Url-bucketed, so a canon-stable fold can merge it by bucket.
            occ = self._commit(
                "edge_occurrences", occurrences(triples, linked, canon, links)
            )
            nodes, edges = self._commit_graph(docs, canon, links, occ)

        return {
            "docs": docs, "sentences": sentences, "triples": triples,
            "defs": defs, "links": links, "canon": canon, "linked": linked,
            "nodes": nodes, "edges": edges, "edge_occurrences": occ,
        }


    # -- incremental (W3 analog) ----------------------------------------------
    def _heal_swaps(self) -> None:
        """Repair a crash inside _swap_in's rename window (runs in
        __init__, before any stage is read). ``data_old`` existing means a
        swap was in flight: if ``data`` is also present the swap completed
        and only the cleanup was lost (drop the backup); if ``data`` is
        missing the crash hit between the two renames (restore the backup —
        the retry recomputes the merge from it idempotently)."""
        if not os.path.isdir(self.workdir):
            return
        for stage in os.listdir(self.workdir):
            d = os.path.join(self.workdir, stage)
            bak = os.path.join(d, "data_old")
            if not os.path.isdir(bak):
                continue
            data = os.path.join(d, "data")
            if os.path.isdir(data):
                shutil.rmtree(bak)
            else:
                os.rename(bak, data)

    def _swap_in(self, stage: str) -> None:
        """Make a stage's fully assembled ``data_new`` its ``data``: two
        atomic renames with the delete LAST, so a crash at any point leaves
        either the old or the new data recoverable (`_heal_swaps`), never a
        partially-deleted directory a retry would silently commit as
        truth."""
        d = self._dir(stage)
        tmp = os.path.join(d, "data_new")
        old = os.path.join(d, "data")
        bak = os.path.join(d, "data_old")
        if os.path.isdir(bak):  # leftover backup from a healed crash
            shutil.rmtree(bak)
        had_data = os.path.isdir(old)  # not on a stage's first commit
        if had_data:
            os.rename(old, bak)
        os.rename(tmp, old)
        if had_data:
            shutil.rmtree(bak)
        self.spark.catalog.refreshByPath(old)

    def _swap_write(self, stage: str, df: DataFrame, n_buckets: int) -> dict:
        """Replace a committed stage's data with df laid out as
        ``n_buckets`` url buckets (df may READ the old files — writing the
        tmp dir materializes it fully first, so the directory swap is
        safe). Iceberg equivalent: MERGE INTO / snapshot replace. Returns
        what the swap did, for the manifest."""
        global LAST_FOLD_PATH
        LAST_FOLD_PATH = "spark-swap"
        t0 = time.time()
        tmp = os.path.join(self._dir(stage), "data_new")
        _bucketed(df, n_buckets).write.mode("overwrite").parquet(tmp)
        n_files = len(_part_files(tmp))
        self._swap_in(stage)
        return {
            "n_buckets": n_buckets, "rewritten_files": n_files,
            "linked_files": 0, "wall_ms": int((time.time() - t0) * 1000),
        }

    def _recorded_buckets(self, stages=_NARROW) -> int | None:
        """The bucket count every manifest of ``stages`` records; None when
        one predates ``n_buckets`` or they differ. Then only the Spark swap,
        which re-buckets every part file, may rewrite the narrow stages."""
        seen = set()
        for stage in stages:
            try:
                with open(os.path.join(self._dir(stage), "manifest.json")) as f:
                    seen.add(json.load(f).get("n_buckets"))
            except OSError:
                return None
        return seen.pop() if len(seen) == 1 else None

    def _touched_files(
        self, n_buckets: int, keys, stages=_NARROW
    ) -> tuple[dict, int] | None:
        """Per stage of ``stages``, bucket -> part-file names, for the
        buckets of ``keys`` (an Arrow table of ``url``, ``_bucket``), and
        the bytes those files hold in all. None when the driver merge may
        not run: a stage without part files, or a part file whose name
        carries no bucket index below ``n_buckets``."""
        buckets = set(keys.column("_bucket").to_pylist())
        out, size = {}, 0
        for stage in stages:
            data = os.path.join(self._dir(stage), "data")
            parts = _part_files(data)
            if not parts:
                return None
            files: dict[int, list[str]] = {}
            for name in parts:
                b = _part_index(name)
                if b is None or b >= n_buckets:
                    return None
                if b in buckets:
                    files.setdefault(b, []).append(name)
                    size += os.stat(os.path.join(data, name)).st_size
            out[stage] = files
        return out, size

    def _merge_swap(self, stage: str, n_buckets: int, files: dict, keys, adds) -> dict:
        """Assemble a stage's ``data_new`` on the driver and swap it in.
        Each bucket of ``keys`` becomes one new part file: its old rows
        minus the ``keys`` urls, plus its rows of ``adds`` (an Arrow table
        with the stage's columns, or None), written by pyarrow with the old
        files' schema and footer metadata (Spark's schema key included, so
        ``read_stage`` still starts no job), in the stage's layout sort
        order if it has one. Every other file is hard-linked. A crashed
        attempt's half-assembled ``data_new`` is cleared first."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        global LAST_FOLD_PATH
        LAST_FOLD_PATH = "bucket-merge"
        t0 = time.time()
        d = self._dir(stage)
        data, tmp = os.path.join(d, "data"), os.path.join(d, "data_new")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gone = {f for names in files.values() for f in names}
        skip = gone | {f".{f}.crc" for f in gone}  # Hadoop checksum files
        parts = _part_files(data)
        for name in os.listdir(data):
            if name in skip:
                continue
            src, dst = os.path.join(data, name), os.path.join(tmp, name)
            try:
                os.link(src, dst)
            except OSError:  # a filesystem without hard links
                shutil.copy2(src, dst)

        template = pq.ParquetFile(os.path.join(data, parts[0]))
        schema = template.schema_arrow
        schema = schema.with_metadata({
            k: v for k, v in (schema.metadata or {}).items() if k != b"ARROW:schema"
        })
        int96 = any(c.physical_type == "INT96" for c in template.schema)
        # Spark's sortWithinPartitions: ascending, nulls first, strings by
        # their UTF-8 bytes (as Arrow compares them)
        order = [(c, "ascending") for c in self._LAYOUT_SORT.get(stage, ())]
        urls, key_bucket = keys.column("url"), keys.column("_bucket")
        if adds is not None:
            adds = adds.select(schema.names).cast(schema)
            add_bucket = pc.take(key_bucket, pc.index_in(adds.column("url"), urls))
        for b in sorted(set(key_bucket.to_pylist())):
            old = [
                pq.read_table(os.path.join(data, f)).cast(schema)
                for f in files.get(b, [])
            ]
            pieces = [t.filter(pc.invert(pc.is_in(t.column("url"), urls))) for t in old]
            if adds is not None:
                pieces.append(adds.filter(pc.equal(add_bucket, b)))
            if not old and not any(t.num_rows for t in pieces):
                continue  # nothing was and nothing goes in this bucket
            table = pa.concat_tables(pieces)
            if order:
                table = table.sort_by(order, null_placement="at_start")
            pq.write_table(
                table,
                os.path.join(tmp, f"part-{b:05d}-{uuid.uuid4()}-c000.snappy.parquet"),
                use_deprecated_int96_timestamps=int96,
            )
        n_files = len(_part_files(tmp))
        self._swap_in(stage)
        return {
            "n_buckets": n_buckets,
            "rewritten_files": n_files - (len(parts) - len(gone)),
            "linked_files": len(parts) - len(gone),
            "wall_ms": int((time.time() - t0) * 1000),
        }

    def _refresh_manifest(self, stage: str, swap: dict) -> None:
        """Recompute lineage + manifest for a swapped stage from its files;
        ``swap`` is what the swap did (bucket count, part files rewritten
        and hard-linked, wall ms)."""
        d = self._dir(stage)
        manifest = {
            "stage": stage,
            "input_fingerprint": self._fingerprint(),
            "n_rows": self._write_lineage(d),
            "extractor_version": EXTRACTOR_VERSION,
            "incremental": True,
            **swap,
        }
        self._write_json_atomic(os.path.join(d, "manifest.json"), manifest)
        self.metrics[stage] = manifest

    def _swap_narrow(self, by_bucket, by_spark) -> dict[str, dict]:
        """Rewrite the five narrow stages of a mutation: ``by_bucket(n)``
        tries the driver-side bucket merge on the recorded bucket count n
        and returns None above its cutover; ``by_spark(n)`` is the Spark
        swap, which keeps the recorded count or, without one, lays the
        stages out as ``n_partitions`` buckets."""
        n = self._recorded_buckets()
        swaps = by_bucket(n) if n is not None else None
        return swaps if swaps is not None else by_spark(n or self.n_partitions)

    def run_incremental(self, delta_pages_path: str) -> dict[str, DataFrame]:
        """Fold a delta snapshot of pages into a committed workdir.

        The reference's watcher re-parses the WHOLE repo on any change
        (reference ``core/watcher.py:84-119``); here the O(corpus) extraction
        stages are delta-only. Latest-wins on (url, warc_ts), ties to the
        delta.

        What the narrow stages rewrite depends on the delta's size. Up to
        _MERGE_MAX_URLS winning urls whose buckets' part files hold up to
        _MERGE_MAX_BYTES, the winning rows are fetched to the driver once
        and only the part files of the url-hash buckets they touch are
        rewritten (pyarrow); every other part file is hard-linked. Above
        either cutover, or on a workdir whose manifests predate
        ``n_buckets``, a Spark swap rewrites every part file of all five
        stages. ``LAST_FOLD_PATH`` names the path taken.

        What the global stages (canon, linked, nodes, edges,
        edge_occurrences) cost depends on the delta's defs. When the narrow
        stages took the bucket merge on a fresh mutation, canon, linked and
        edge_occurrences are committed under the pre-mutation fingerprint
        on the same buckets, the touched part files of all seven
        url-bucketed stages fit _MERGE_MAX_BYTES, and the delta provably
        leaves canon unchanged (``_canon_stable``), the tail is scoped:
        canon's files stay, only the delta's mentions are linked, linked and
        edge_occurrences are merged bucket by bucket, and nodes and edges
        are rolled up again from the committed stages (O(delta + graph)).
        Otherwise ``_recompute_globals`` rebuilds all five from the
        committed narrow stages, which re-links every mention. A retry
        after a crash always recomputes. ``LAST_GLOBALS_PATH`` names the
        path taken. Either way nodes and edges come from the graph tail
        (module docstring): rolled up on the driver below _MERGE_MAX_BYTES,
        by Spark above it.

        Replay semantics (positional mutation signatures): re-running the
        MOST RECENTLY recorded mutation with nothing after it is a no-op
        resume; replaying an EARLIER delta re-applies it as a new mutation
        (an interleaved delete/ingest may have changed what it affects — a
        bare membership no-op would silently keep stale state). Do not
        replay a full mutation log for recovery; crash recovery is the
        pending-retry path, which resumes exactly the interrupted mutation.
        """
        spark = self.spark
        delta_base = f"v{EXTRACTOR_VERSION}:{self._path_sig(delta_pages_path)}"
        self._require_no_other_pending(delta_base)
        pend = self._pending()
        retrying = pend is not None and pend.get("base_sig") == delta_base
        if not retrying and self._applied_last(delta_base):
            # re-run of the LATEST recorded mutation with nothing after it:
            # guaranteed no-op, resume the committed build. If other
            # mutations landed since, the delta is re-applied instead.
            return self.run()
        if not retrying:
            # fresh mutation: narrow manifests must match the ingested-only
            # fingerprint. On a crash retry they are legitimately mixed
            # (some already delta-inclusive) and the swaps below are
            # idempotent, so the precondition is skipped.
            self._pending_sigs = []
            if not all(self._committed(s) for s in _NARROW):
                raise RuntimeError(
                    "run_incremental() needs a base build with "
                    "checkpoint='all' (per-stage snapshots to merge into); "
                    "run() must commit first"
                )
        delta_sig = self._begin_mutation(
            delta_base, "incremental", delta_pages_path
        )
        # the merge plans below read the CURRENT committed files; fingerprint
        # only matters again when manifests are refreshed post-swap
        self._pending_sigs = []

        delta_pages = read_pages(spark, delta_pages_path).withColumn(
            "snap_md5", F.md5("html")
        )
        w = Window.partitionBy("url").orderBy(*self._winner_order())
        delta_latest = (
            delta_pages.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        delta_docs = extract_stage(
            delta_latest, keep=("url", "warc_ts", "lang", "snap_md5")
        ).select("url", "warc_ts", "lang", "snap_md5", "text_extracted")

        # decide winners with the SAME rule as a full rebuild: delta wins iff
        # the base row is absent, strictly older, or equal-warc_ts with a
        # snap_md5 that does not outrank the delta's (on exact equality the
        # content is identical, so keeping the delta row changes nothing).
        # Both paths materialize this BEFORE any directory swap — it reads
        # the committed docs files, which the swaps delete.
        old_docs = self._load("docs")
        base_key = old_docs.select(
            "url",
            F.col("warc_ts").alias("_base_ts"),
            F.col("snap_md5").alias("_base_md5"),
        )
        delta_win = (
            delta_docs.join(base_key, on="url", how="left")
            .where(
                F.col("_base_ts").isNull()
                | (F.col("warc_ts") > F.col("_base_ts"))
                | (
                    (F.col("warc_ts") == F.col("_base_ts"))
                    & (F.col("snap_md5") >= F.col("_base_md5"))
                )
            )
            .drop("_base_ts", "_base_md5")
        )

        # what the scoped global tail needs, filled in by by_bucket when the
        # fold may take it: a fresh mutation whose canon, linked and
        # edge_occurrences are committed under the pre-mutation fingerprint
        # on the narrow stages' buckets, whose touched part files of all
        # seven url-bucketed stages fit _MERGE_MAX_BYTES, and whose defs
        # change leaves canon as committed
        scope: dict = {}

        def by_bucket(n: int) -> dict | None:
            # one bounded fetch of the winning rows, their html (for links)
            # and bucket; the other stages' rows derive from it on the driver
            wins = (
                delta_win.join(delta_latest.select("url", "html"), on="url")
                .withColumn("_bucket", url_bucket(n))
                .limit(_MERGE_MAX_URLS + 1)
                .toArrow()
            )
            if wins.num_rows > _MERGE_MAX_URLS:
                return None
            keys = wins.select(["url", "_bucket"])
            found = self._touched_files(n, keys)
            if found is None or found[1] > _MERGE_MAX_BYTES:
                return None
            touched, size = found
            adds = {"docs": wins}
            if wins.num_rows:
                sent = segment_stage(spark.createDataFrame(
                    wins.select(["url", "lang", "text_extracted"])
                )).toArrow()
                sent_df = spark.createDataFrame(sent)
                adds.update(
                    sentences=sent,
                    triples=triples_stage(sent_df, patterns_df(spark)).toArrow(),
                    defs=defs_stage(sent_df).toArrow(),
                    links=links_stage(
                        spark.createDataFrame(wins.select(["url", "html"]))
                    ).toArrow(),
                )
            kept = not retrying and self._recorded_buckets(_RELINKED) == n and all(
                self._committed(s) for s in ("canon", *_RELINKED)
            )
            relink = self._touched_files(n, keys, _RELINKED) if kept else None
            if (
                relink is not None and size + relink[1] <= _MERGE_MAX_BYTES
                and self._canon_stable(touched["defs"], keys, adds.get("defs"))
            ):
                scope.update(n=n, files=relink[0], keys=keys, adds=adds)
            return {
                s: self._merge_swap(s, n, touched[s], keys, adds.get(s))
                for s in _NARROW
            }

        def by_spark(n: int) -> dict:
            win = delta_win.localCheckpoint(eager=True)
            win_urls = win.select("url").distinct().localCheckpoint(eager=True)
            # delta-only narrow stages over the winning delta pages
            delta_pages_win = delta_latest.join(win_urls, on="url", how="left_semi")
            delta_sent = segment_stage(win)
            new_narrow = {
                "docs": win,
                "sentences": delta_sent,
                "triples": triples_stage(delta_sent, patterns_df(spark)),
                "defs": defs_stage(delta_sent),
                "links": links_stage(delta_pages_win.select("url", "html")),
            }
            swaps = {}
            for stage, delta_df in new_narrow.items():
                old = self._load(stage)
                merged = old.join(win_urls, on="url", how="left_anti").unionByName(
                    delta_df.select(*old.columns)
                )
                swaps[stage] = self._swap_write(stage, merged, n)
            return swaps

        swaps = self._swap_narrow(by_bucket, by_spark)

        # fingerprint advances (in memory) to include this delta; manifests
        # are rewritten delta-inclusive. The durable _ingested.json record is
        # the LAST step below; _pending.json covers the window in between.
        self._pending_sigs = [delta_sig]
        for stage, swap in swaps.items():
            self._refresh_manifest(stage, swap)

        # global stages follow the merged narrow outputs; only after every
        # stage (narrow + global) is committed with the delta-inclusive
        # fingerprint is the delta durably marked as folded in. A crash
        # before that retries down _recompute_globals (scope stays empty).
        out = self._scoped_globals(**scope) if scope else self._recompute_globals()
        self._finish_mutation(delta_sig)
        return out

    def _recompute_globals(self) -> dict[str, DataFrame]:
        """Rebuild the global stages (dictionary/canon, linking, graph) from
        the committed narrow stages — the shared tail of every mutation path
        (incremental fold, deletion) and the oracle twin of
        ``_scoped_globals``. O(corpus) in the Spark sense: it re-canonicalizes
        every defined surface and re-links every mention, though from the
        committed narrow stages, never from the raw pages. ``linked`` and
        ``edge_occurrences`` take the narrow stages' bucket count."""
        global LAST_GLOBALS_PATH
        LAST_GLOBALS_PATH = "recomputed"
        tag = {"globals": "recomputed"}
        n = self._recorded_buckets()
        docs = self._load("docs")
        triples = self._load("triples")
        defs = self._load("defs")
        links = self._load("links")
        canon = self._commit("canon", canonicalize_entities(defs), **tag)
        linked = self._commit(
            "linked",
            link_mentions(mentions_long(triples, defs), build_dictionary(canon)),
            n_buckets=n, **tag,
        )
        occ = self._commit(
            "edge_occurrences", occurrences(triples, linked, canon, links),
            n_buckets=n, **tag,
        )
        nodes, edges = self._commit_graph(docs, canon, links, occ, **tag)
        return self._outputs(
            docs=docs, triples=triples, defs=defs, links=links, canon=canon,
            linked=linked, nodes=nodes, edges=edges, edge_occurrences=occ,
        )

    def _outputs(self, **frames) -> dict[str, DataFrame]:
        """All ten stages, as a run returns them: ``frames`` as given, every
        other stage read from its committed files."""
        return {s: frames[s] if s in frames else self._load(s) for s in STAGES}

    def _canon_stable(self, defs_files: dict, keys, added) -> bool:
        """True when a fold that drops the committed defs rows of the
        ``keys`` urls (they sit in ``defs_files``, bucket -> part files)
        and adds the ``added`` rows (an Arrow table, or None) provably
        leaves canon as committed. Canon is a pure function of the
        ``groupBy(surface).min(etype)`` table of the normalized defs, so it
        is unchanged when the dropped (surface, etype) pairs are a
        sub-multiset of the added ones (no surface loses a row, no etype
        minimum rises) and every added surface is already in canon with an
        etype no greater than its own (no surface is new, no minimum
        falls). O(delta): it reads the touched defs files, normalizes both
        sides with Spark's ``norm_expr`` (a local relation, no job) and
        looks the added surfaces up in canon on the driver."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from collections import Counter

        data = os.path.join(self._dir("defs"), "data")
        urls = keys.column("url")
        cols = ["surface", "etype"]
        dropped = [
            t.filter(pc.is_in(t.column("url"), urls)).select(cols)
            for t in (
                pq.read_table(os.path.join(data, f), columns=["url", *cols])
                for names in defs_files.values() for f in names
            )
        ]

        def normed(tables) -> Counter:
            tables = [t for t in tables if t.num_rows]
            if not tables:
                return Counter()
            rows = self.spark.createDataFrame(
                pa.concat_tables(tables, promote_options="permissive")
            ).select(norm_expr(F.col("surface")), "etype").collect()
            return Counter(tuple(r) for r in rows)

        gone = normed(dropped)
        new = normed([added.select(cols)] if added is not None else [])
        if gone - new:
            return False
        surfaces = sorted({s for s, _ in new})
        if not surfaces:
            return True
        canon = os.path.join(self._dir("canon"), "data")
        known = {}
        for f in _part_files(canon):
            t = pq.read_table(
                os.path.join(canon, f), columns=cols,
                filters=pc.field("surface").isin(surfaces),
            )
            known.update(zip(*(t.column(c).to_pylist() for c in cols)))
        return all(
            e is not None and known.get(s) is not None and known[s] <= e
            for s, e in new
        )

    def _scoped_globals(
        self, n: int, files: dict, keys, adds: dict
    ) -> dict[str, DataFrame]:
        """The global tail of a canon-stable bucket-merge fold: canon's
        files stay as they are (only its manifest advances); the delta's
        mentions are linked against the committed canon and their
        occurrence rows derived, both from the small frames of ``adds``
        (the delta's narrow-stage rows, Arrow); ``linked`` and
        ``edge_occurrences`` are merged bucket by bucket (``files``: per
        stage, bucket -> touched part files); nodes and edges are rolled up
        again from the committed stages by the graph tail. Equal to
        ``_recompute_globals``: with canon unchanged, every url's linked
        and occurrence rows depend only on that url's own rows."""
        global LAST_GLOBALS_PATH
        LAST_GLOBALS_PATH = "scoped"
        spark = self.spark
        canon = self._load("canon")
        self._refresh_manifest("canon", {"globals": "scoped", "wall_ms": 0})
        rel = {}
        if "defs" in adds:  # the delta has winning urls
            triples, defs, links = (
                spark.createDataFrame(adds[s]) for s in ("triples", "defs", "links")
            )
            rel["linked"] = link_mentions(
                mentions_long(triples, defs), build_dictionary(canon)
            ).toArrow()
            rel["edge_occurrences"] = occurrences(
                triples, spark.createDataFrame(rel["linked"]), canon, links
            ).toArrow()
        for stage in _RELINKED:
            swap = self._merge_swap(stage, n, files[stage], keys, rel.get(stage))
            self._refresh_manifest(stage, {**swap, "globals": "scoped"})
        docs, links, occ = (
            self._load(s) for s in ("docs", "links", "edge_occurrences")
        )
        nodes, edges = self._commit_graph(docs, canon, links, occ, globals="scoped")
        return self._outputs(
            docs=docs, links=links, canon=canon, nodes=nodes, edges=edges,
            edge_occurrences=occ,
        )

    def run_delete(self, url_prefix: str) -> dict[str, DataFrame]:
        """Delete every page whose url starts with ``url_prefix`` from a
        committed build (S6 whole-repo delete / S7 single-file delete +
        empty-dir GC, reference ``graph_builder.py:407-441`` DETACH DELETE):
        narrow stages drop the matching urls (on Iceberg this is
        ``DELETE FROM ... WHERE url LIKE ...`` as one snapshot commit), then
        the global stages recompute, which performs the GC for free:
        entities defined only on deleted pages and domains linked only from
        them simply don't re-materialize (the reference needs an explicit
        childless-Directory cleanup query; here the graph is rebuilt from
        the surviving facts).

        Up to the same cutovers as run_incremental, one bounded fetch of the
        matching docs urls and their buckets picks the part files to rewrite
        on the driver, and every other part file is hard-linked; above them
        a Spark filter + swap rewrites every part file.

        Recorded in the fingerprint chain like a delta, so resume and
        idempotent re-delete work identically to run_incremental.
        """
        if not url_prefix:
            raise ValueError("url_prefix must be non-empty")
        del_base = f"delete:{url_prefix}"
        self._require_no_other_pending(del_base)
        pend = self._pending()
        retrying = pend is not None and pend.get("base_sig") == del_base
        if not retrying and self._applied_last(del_base):
            # latest recorded mutation IS this delete and nothing landed
            # after it: guaranteed no-op. An interleaved incremental may
            # have re-added matching urls, so any other ordering re-applies.
            return self.run()
        if not retrying:
            self._pending_sigs = []
            if not all(self._committed(s) for s in _NARROW):
                raise RuntimeError(
                    "run_delete() needs a base build with checkpoint='all' "
                    "(per-stage snapshots to rewrite); run() must commit first"
                )
        del_sig = self._begin_mutation(del_base, "delete", url_prefix)
        self._pending_sigs = []
        matching = F.col("url").startswith(url_prefix)
        # docs is swapped LAST: every narrow stage's urls are docs urls, so
        # a retry after a crash between two swaps still finds every
        # matching url in docs, where the bucket merge takes its keys
        order = (*_NARROW[1:], "docs")

        def by_bucket(n: int) -> dict | None:
            keys = (
                self._load("docs").where(matching)
                .select("url", url_bucket(n).alias("_bucket"))
                .limit(_MERGE_MAX_URLS + 1)
                .toArrow()
            )
            if keys.num_rows > _MERGE_MAX_URLS:
                return None
            found = self._touched_files(n, keys)
            if found is None or found[1] > _MERGE_MAX_BYTES:
                return None
            return {
                s: self._merge_swap(s, n, found[0][s], keys, None) for s in order
            }

        def by_spark(n: int) -> dict:
            return {
                s: self._swap_write(s, self._load(s).where(~matching), n)
                for s in order
            }

        swaps = self._swap_narrow(by_bucket, by_spark)
        self._pending_sigs = [del_sig]
        for stage, swap in swaps.items():
            self._refresh_manifest(stage, swap)
        out = self._recompute_globals()
        self._finish_mutation(del_sig)
        return out


def run_pipeline(
    spark: SparkSession, pages_path: str, workdir: str, **kw
) -> dict[str, DataFrame]:
    return PipelineRunner(spark, pages_path, workdir, **kw).run()


def run_incremental(
    spark: SparkSession, pages_path: str, delta_path: str, workdir: str, **kw
) -> dict[str, DataFrame]:
    return PipelineRunner(spark, pages_path, workdir, **kw).run_incremental(delta_path)
