"""The benchmark's workloads.

Each workload sets up (inputs, Spark session, any base build or warm-up), then
runs its timed operations in a closed loop with one client until ``seconds``
have passed, checks every output, and returns its metrics. An operation's cost
is the CPU time of the whole process tree (driver JVM, Python daemon and
workers) while it runs: on a shared host, wall time moves with what other
guests do far more than CPU time does. With tracing on, it
runs its operations inside per-layer spans (``spans.Tracer``) instead, the
first after an untraced twin; the pipeline layers are also replayed one public
function at a time on the committed stage inputs, each forced with the
``noop`` sink.

The program is driven only through its public functions:
``PipelineRunner.run/run_incremental/run_delete``, ``curate_documents``, the
per-stage functions of ``pipeline``/``extract``/``sources`` and the query
callables of ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import Window, functions as F

import checks
import inputs
from bench import _force, _host_memory_health
from host import PeakRss, tree_cpu_s
from spans import STATS, Tracer

from codegraphcontext_spark.curate import curate_documents
from codegraphcontext_spark.extract import extract_stage
from codegraphcontext_spark.pipeline.canon import (
    blocked_pairs,
    candidate_pairs,
    canonicalize_entities,
    norm_expr,
)
from codegraphcontext_spark.pipeline.linking import build_dictionary, link_mentions, mentions_long
from codegraphcontext_spark.pipeline.materialize import edges_from_occurrences, materialize_graph
from codegraphcontext_spark.pipeline.runner import PipelineRunner
from codegraphcontext_spark.pipeline.segment import segment_stage
from codegraphcontext_spark.pipeline.triples import defs_stage, links_stage, patterns_df, triples_stage
from codegraphcontext_spark.session import get_spark
from codegraphcontext_spark.sources import read_pages

# input sizes in pages, and the delta's share of the build_ingest corpus
BUILD_PAGES = 1000
DELTA_FRAC = 0.01
QUERY_PAGES = 1000
# the graph queries query_graph runs, in this order: two lookups bound by
# job scheduling (one per span prefix, kg_graph_* and the rest) and two
# iterative kernels bound by their per-iteration jobs; layers.json has the
# measured costs they were chosen from
QUERIES = (
    "kg_graph_who_references",
    "kg_qa_2hop",
    "kg_graph_pagerank",
    "kg_graph_hits",
)
DOCS_KEEP = ("url", "warc_ts", "lang", "snap_md5")
# idle seconds before each timed operation: background work the previous
# one left (JIT compilation, collections, cleanup) then runs outside the
# window instead of being charged to the next operation. Without it a 0.6 s
# lookup that follows a kernel spread by 0.37 of its median over 5 seeds;
# with it, by 0.09
QUIET_S = 1.0

# per-layer metric names, in BENCHMARK.json order
SPANS = (
    "runner.run",
    "sources.read_pages",
    "extract.extract_stage",
    "segment.segment_stage",
    "triples.triples_stage",
    "triples.defs_stage",
    "triples.links_stage",
    "canon.canonicalize_entities",
    "linking.link_mentions",
    "materialize.materialize_graph",
    "materialize.edges_from_occurrences",
    "curate.curate_documents",
    "runner.run_incremental",
    "runner.run_delete",
    "queries.kg_graph",
    "queries.kg_other",
)
EXTRAS = (
    "runner.commit_s",
    "runner.written_mb",
    "runner.stored_bytes_per_input_byte",
    "runner.rewritten_bytes_per_delta_byte",
    "canon.lsh_pair_yield",
    "linking.resolved_frac",
    "queries.jobs_per_query",
    "queries.rows_examined_per_row",
    "queries.persisted_rdds_leaked",
    "session.start_s",
    "session.warmup_s",
    "host.mem_touch_gbps",
    "host.peak_rss_mb",
    "trace.overhead_frac",
)
PER_LAYER = tuple(f"{s}.{k}" for s in SPANS for k in STATS) + EXTRAS
# the pipeline stages a build commits, excluding the whole-run span and
# the scan that extraction re-reads: their walls sum to the layer time
_REPLAYED = SPANS[2:11]


def _stage(spark, workdir: str, stage: str):
    return spark.read.parquet(os.path.join(workdir, stage, "data"))


class Run:
    """One benchmark process: its directories, session and tallies."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        work = os.path.join(root, ".perfbench_work")
        self.cache = os.path.join(work, "inputs")
        self.dir = os.path.join(work, f"run-{workload}-{seed}-{os.getpid()}")
        self.spans_path = os.path.join(work, f"spans-{workload}-{seed}.json")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(os.path.join(self.dir, "tmp"), exist_ok=True)
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.setup_t0 = 0.0
        self.tracer: Tracer | None = None
        self.attempted = self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self):
        """Start the session with the engine's own config (driver memory
        included); the inputs are ready by now, so set-up is timed from
        here."""
        t = self.setup_t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cores=self.cores,
            extra_conf={
                # JVM scratch files go to the run directory, none to /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
                ),
                "spark.local.dir": self.path("local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job/stage of a run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.tracer = Tracer(self.spark, self.trace)
        return self.spark

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def setup_done(self) -> None:
        self.e2e["setup_s"] = (time.perf_counter() - self.setup_t0, "s")

    def timed(self, step, at_least: int = 1) -> list:
        """Call step() until ``seconds`` have passed and it ran at least
        ``at_least`` times."""
        out, start = [], time.perf_counter()
        while len(out) < at_least or time.perf_counter() - start < self.seconds:
            out.append(step())
        return out

    def result(self) -> dict:
        if self.trace:
            rolled = self.tracer.rollup()
            self.tracer.write(self.spans_path)
            for span, stats in rolled.items():
                for k, v in stats.items():
                    self.layer[f"{span}.{k}"] = v
            metrics = {n: {"value": float(self.layer.get(n, 0.0)), "unit": _unit(n)} for n in PER_LAYER}
        else:
            metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in self.e2e.items()}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


@contextmanager
def clock(quiet_s: float = QUIET_S):
    """Waits ``quiet_s``, then yields a dict that gets the body's ``wall``
    and process-tree ``cpu`` seconds when the body ends. Open a span inside
    it, so that the span's wall leaves the wait out."""
    took: dict[str, float] = {}
    time.sleep(quiet_s)
    t, cpu = time.perf_counter(), tree_cpu_s()
    yield took
    took["wall"], took["cpu"] = time.perf_counter() - t, tree_cpu_s() - cpu


def _unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail.endswith("_gbps"):
        return "GB/s"
    if tail in ("shuffle_records", "rows_out", "persisted_rdds_leaked"):
        return "count"
    return "ratio"


def _quality(run: Run, workdir: str, golden: str) -> bool:
    p, r = checks.edge_pr(workdir, golden)
    run.e2e["edge_precision"] = (p, "fraction")
    run.e2e["edge_recall"] = (r, "fraction")
    return p >= checks.MIN_PR and r >= checks.MIN_PR


# -- per-layer replay ----------------------------------------------------------
def replay_layers(run: Run, pages_path: str, workdir: str) -> float:
    """Replay each pipeline layer's public function on its committed input
    inside its own span. Every replayed stage's row count must equal the
    runner manifest's n_rows. Returns the sum of the replayed layer walls."""
    spark, tracer = run.spark, run.tracer
    docs, sentences, triples, defs, links, canon, linked = (
        _stage(spark, workdir, s)
        for s in ("docs", "sentences", "triples", "defs", "links", "canon", "linked")
    )
    pages = read_pages(spark, pages_path)
    # the snapshots the build kept: extraction is replayed on these only
    winners = pages.withColumn("snap_md5", F.md5("html")).join(
        docs.select("url", "warc_ts", "snap_md5"), ["url", "warc_ts", "snap_md5"], "left_semi"
    )
    pats = patterns_df(spark)

    def graph():
        nodes, _, occ = materialize_graph(docs, triples, linked, canon, links)
        return [nodes, occ]

    plan = (
        ("sources.read_pages", lambda: [pages], ()),
        ("extract.extract_stage", lambda: [extract_stage(winners, keep=DOCS_KEEP)], ("docs",)),
        ("segment.segment_stage", lambda: [segment_stage(docs)], ("sentences",)),
        ("triples.triples_stage", lambda: [triples_stage(sentences, pats)], ("triples",)),
        ("triples.defs_stage", lambda: [defs_stage(sentences)], ("defs",)),
        ("triples.links_stage", lambda: [links_stage(winners.select("url", "html"))], ("links",)),
        ("canon.canonicalize_entities", lambda: [canonicalize_entities(defs)], ("canon",)),
        (
            "linking.link_mentions",
            lambda: [link_mentions(mentions_long(triples, defs), build_dictionary(canon))],
            ("linked",),
        ),
        ("materialize.materialize_graph", graph, ("nodes", "edge_occurrences")),
        (
            "materialize.edges_from_occurrences",
            lambda: [edges_from_occurrences(_stage(spark, workdir, "edge_occurrences"))],
            ("edges",),
        ),
    )
    for name, build, stages in plan:
        with tracer.span(name) as rec:
            dfs = build()
            for df in dfs:
                _force(df)
        rows = [df.count() for df in dfs]  # outside the span
        rec["rows_out"] = sum(rows)
        if stages:
            run.op(rows == [checks.manifest_rows(workdir, s) for s in stages])
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] in _REPLAYED)


def _lsh_pair_yield(spark, workdir: str) -> float:
    """Verified canon merge pairs / LSH-blocked pairs, on the canon layer's
    own surface table (``canonicalize_entities`` builds it the same way)."""
    surfaces = (
        _stage(spark, workdir, "defs")
        .select(norm_expr(F.col("surface")).alias("surface"), "etype")
        .distinct()
        .groupBy("surface")
        .agg(F.min("etype").alias("etype"))
        .localCheckpoint(eager=True)
    )
    blocked = blocked_pairs(surfaces).count()
    return candidate_pairs(surfaces).count() / blocked if blocked else 1.0


# -- build_ingest --------------------------------------------------------------
def _curate(run: Run, workdir: str) -> dict:
    """curate_documents over the committed docs; returns its stats."""
    spark = run.spark
    docs = (
        _stage(spark, workdir, "docs")
        .select(
            # ids independent of partitioning: curation keeps the min doc_id
            F.row_number().over(Window.orderBy("url")).alias("doc_id"),
            F.col("text_extracted").alias("text"),
            "lang",
        )
        .repartition(run.cores)
        .localCheckpoint(eager=True)
    )
    out = run.path("curated")
    shutil.rmtree(out, ignore_errors=True)
    return curate_documents(spark, docs, out)


def _files(root: str) -> dict[str, int]:
    """path -> inode of every file under root."""
    return {
        os.path.join(d, n): os.stat(os.path.join(d, n)).st_ino
        for d, _, names in os.walk(root)
        for n in names
    }


def build_ingest(run: Run) -> None:
    inp = inputs.ingest_inputs(run.cache, run.seed, BUILD_PAGES, DELTA_FRAC)
    spark = run.start_spark()
    base = run.path("base")
    t = time.perf_counter()
    PipelineRunner(spark, inp.base_pages, base).run()
    run.layer["session.warmup_s"] = time.perf_counter() - t
    run.setup_done()

    sums: set = set()
    rewritten: list[int] = []

    def build(wd: str, span: str = "") -> dict:
        """run() over base + delta: the full-rebuild twin of the fold."""
        shutil.rmtree(wd, ignore_errors=True)
        with clock() as took, run.tracer.span(span) as rec:
            PipelineRunner(spark, inp.full_pages, wd).run()
        rec["rows_out"] = checks.manifest_rows(wd, "edges")
        sums.add(checks.graph_checksum(wd))
        run.op(_quality(run, wd, inp.golden_edges) and len(sums) == 1)
        return took

    def curate(wd: str, span: str = "") -> None:
        with run.tracer.span(span) as rec:
            stats = _curate(run, wd)
        rec["rows_out"] = stats["n_out"]
        run.op(0 < stats["n_out"] <= stats["n_in"])

    def fold(wd: str, span: str = "") -> dict:
        """run_incremental on a pristine copy of the base build."""
        shutil.rmtree(wd, ignore_errors=True)
        shutil.copytree(base, wd)
        before = _files(wd)
        runner = PipelineRunner(spark, inp.base_pages, wd)
        with clock() as took, run.tracer.span(span) as rec:
            runner.run_incremental(inp.delta_pages)
        rec["rows_out"] = checks.manifest_rows(wd, "edges")
        rewritten.append(sum(
            os.path.getsize(p) for p, ino in _files(wd).items() if before.get(p) != ino
        ))
        run.op(checks.graph_checksum(wd) in sums)
        return took

    def delete(wd: str, span: str = "") -> None:
        runner = PipelineRunner(spark, inp.base_pages, wd)
        with run.tracer.span(span) as rec:
            runner.run_delete(inp.delete_prefix)
        rec["rows_out"] = checks.manifest_rows(wd, "edges")
        run.op(checks.pages_under(wd, inp.delete_prefix) == 0)

    if not run.trace:
        # curate_documents and run_delete run in the traced run only: a
        # round of build + fold already takes about 20 s
        full, wd = run.path("full"), run.path("wd")
        rounds = run.timed(lambda: (build(full), fold(wd)))
        run.e2e.update(
            primary_cpu_s=(statistics.median(b["cpu"] for b, _ in rounds), "s"),
            secondary_cpu_s=(statistics.median(f["cpu"] for _, f in rounds), "s"),
        )
        return

    run.layer["host.mem_touch_gbps"] = _host_memory_health()
    full, wd = run.path("full"), run.path("wd")
    with PeakRss() as rss:
        # overhead: the traced build against the untraced build just before it
        untraced_s = build(full)["wall"]
        traced_s = build(full, "runner.run")["wall"]
        layers_s = replay_layers(run, inp.full_pages, full)
        curate(full, "curate.curate_documents")
        fold(wd, "runner.run_incremental")
        delete(wd, "runner.run_delete")
    written = inputs.tree_bytes(full)
    run.layer.update({
        "trace.overhead_frac": traced_s / untraced_s - 1,
        "runner.commit_s": traced_s - layers_s,
        "runner.written_mb": written / 1e6,
        "runner.stored_bytes_per_input_byte": written / inputs.tree_bytes(inp.full_pages),
        "runner.rewritten_bytes_per_delta_byte": rewritten[-1] / inputs.tree_bytes(inp.delta_pages),
        "canon.lsh_pair_yield": _lsh_pair_yield(spark, full),
        "linking.resolved_frac": checks.linked_resolved_frac(full),
        "host.peak_rss_mb": rss.mb,
    })


# -- query_graph -----------------------------------------------------------------
def _graph_queries() -> list[tuple[str, object]]:
    """The QUERIES callables, from the driver contract."""
    import __spark_entry__

    callables = __spark_entry__.queries()
    return [(n, callables[n]) for n in QUERIES]


def query_graph(run: Run) -> None:
    from codegraphcontext_spark.queries import graph_queries

    src = inputs.corpus(run.cache, run.seed, QUERY_PAGES)
    # graph_dir() roots the graph cache in a fixed directory; point it into
    # this run's directory so the run reads and writes nothing outside it
    graph_queries._ROOT = run.path("graph")
    sf_dir = run.path("sf0.1")
    shutil.copytree(src, os.path.join(graph_queries.graph_dir(sf_dir), "corpus"))
    spark = run.start_spark()
    t = time.perf_counter()
    graph_queries.ensure_graph(spark, sf_dir)
    run.layer["session.warmup_s"] = time.perf_counter() - t
    wd = os.path.join(graph_queries.graph_dir(sf_dir), "wd")
    _quality(run, wd, os.path.join(src, "golden_edges.parquet"))
    queries = _graph_queries()

    first: dict[str, tuple[int, int]] = {}
    jsc = spark.sparkContext._jsc

    def one(name: str, fn, span: str = "", quiet_s: float = QUIET_S) -> dict:
        """Run one query to a driver-side Arrow table; check it against the
        first result this run got for the same query."""
        table = None
        with clock(quiet_s) as took, run.tracer.span(span) as rec:
            try:
                table = fn(spark, sf_dir).toArrow()
            except Exception:  # noqa: BLE001 - a failing query is a counted failure
                pass
        got = checks.table_checksum(table) if table is not None else None
        rec["rows_out"] = got[0] if got else 0
        run.op(got is not None and first.setdefault(name, got) == got)
        return took

    persisted = [jsc.getPersistentRDDs().size()]

    def one_pass() -> list[dict]:
        lat = [one(n, fn) for n, fn in queries]
        persisted.append(jsc.getPersistentRDDs().size())
        return lat

    # a warm-up pass, not timed, so without idle gaps: the first run of a
    # query in the JVM costs about half as much again as later runs (class
    # loading, JIT)
    for n, fn in queries:
        one(n, fn, quiet_s=0.0)
    persisted.append(jsc.getPersistentRDDs().size())
    run.setup_done()
    if not run.trace:
        passes = run.timed(one_pass, at_least=2)
        # a query's cost is its cheapest pass: contention from other guests
        # on a shared host only ever adds to it
        cpu = [min(q["cpu"] for q in qs) for qs in zip(*passes)]
        run.e2e.update(
            # the geometric mean, not the median: with 4 samples the median
            # jumps between neighbouring queries from run to run
            primary_cpu_s=(statistics.geometric_mean(cpu), "s"),
            secondary_cpu_s=(sum(cpu), "s"),
        )
        return

    run.layer["host.mem_touch_gbps"] = _host_memory_health()
    with PeakRss() as rss:
        # overhead: the traced pass against the untraced pass just before it
        untraced = sum(q["wall"] for q in one_pass())
        traced = sum(
            one(n, fn, "queries.kg_graph" if n.startswith("kg_graph_") else "queries.kg_other")["wall"]
            for n, fn in queries
        )
    spans = [s for s in run.tracer.spans if s["name"].startswith("queries.")]
    run.tracer.rollup()  # fills jobs / input_records per span
    run.layer.update({
        "trace.overhead_frac": traced / untraced - 1,
        "queries.jobs_per_query": sum(s["jobs"] for s in spans) / len(spans),
        "queries.rows_examined_per_row": sum(s["input_records"] for s in spans)
        / max(sum(s["rows_out"] for s in spans), 1),
        "queries.persisted_rdds_leaked": persisted[1] - persisted[0],
        "host.peak_rss_mb": rss.mb,
    })


WORKLOADS = {"build_ingest": build_ingest, "query_graph": query_graph}
