"""Round-5 pins: the SCC/bow-tie closure-free rewrite (driver-Tarjan fast
path vs distributed trim+peel branch equality), the brokerage pre-join
neighbor cap, and the core-reachability BFS helper — the properties the
sf0.01 oracle equality can't see because the test graph never triggers
the distributed branches or binds the cap."""

import os

import pytest
from pyspark.sql import functions as F

from codegraphcontext_spark.queries import graph_queries as gq

SF = "/root/testdata/sf0.001"


def _fixture_adj(spark):
    """Directed fixture with two cycles, a bridge, and tendrils:
    cycle A = n01->n02->n03->n01, cycle B = n05->n06->n05,
    bridge n03->n05 (A reaches B, not back), tendrils n00->n01 (source)
    and n06->n09 (sink), plus an isolated chain n07->n08."""
    edges = [
        ("n01", "n02"), ("n02", "n03"), ("n03", "n01"),
        ("n05", "n06"), ("n06", "n05"),
        ("n03", "n05"),
        ("n00", "n01"), ("n06", "n09"),
        ("n07", "n08"),
    ]
    return spark.createDataFrame(edges, "subj_id string, obj_id string")


_EXPECTED_SCC = {
    "n01": "n01", "n02": "n01", "n03": "n01",
    "n05": "n05", "n06": "n05",
}


def _labels_of(adj):
    df = gq._scc_labels(
        adj.select("subj_id", F.lit("FOUNDED").alias("pred"), "obj_id")
    )
    return {r.node_id: r.scc_id for r in df.collect()}


def test_scc_labels_driver_branch(spark, monkeypatch):
    monkeypatch.delenv("CGC_SCC_SMALL_CUTOVER", raising=False)
    assert _labels_of(_fixture_adj(spark)) == _EXPECTED_SCC


def test_scc_labels_distributed_branch_matches_driver(spark, monkeypatch):
    monkeypatch.setenv("CGC_SCC_SMALL_CUTOVER", "0")
    assert _labels_of(_fixture_adj(spark)) == _EXPECTED_SCC


def test_reach_from_both_branches(spark, monkeypatch):
    adj = _fixture_adj(spark).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([("n05",), ("n06",)], "v string")
    fwd_expect = {"n05", "n06", "n09"}
    bwd_expect = {"n05", "n06", "n00", "n01", "n02", "n03"}
    for cutover in (None, "0"):
        if cutover is None:
            monkeypatch.delenv("CGC_SCC_SMALL_CUTOVER", raising=False)
        else:
            monkeypatch.setenv("CGC_SCC_SMALL_CUTOVER", cutover)
        fwd = {r.v for r in gq._reach_from(adj, seeds, forward=True).collect()}
        bwd = {r.v for r in gq._reach_from(adj, seeds, forward=False).collect()}
        assert fwd == fwd_expect, cutover
        assert bwd == bwd_expect, cutover


def test_no_closure_helper_remains():
    """The |V|^2 transitive-closure helper is gone — the scale-killer
    cannot silently come back under its old name."""
    assert not hasattr(gq, "_open_closure")


def test_queries_do_not_import_cli():
    """Layering: the query layer never imports the CLI (the CLI imports
    the query layer and its graph kernels, not the other way round)."""
    import ast
    import pathlib

    qdir = pathlib.Path(gq.__file__).parent
    offenders = []
    for path in sorted(qdir.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                mods = [("." * node.level) + (node.module or "")]
                mods += [f"{mods[0]}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            if any(m.split(".")[-1] == "cli" for m in mods):
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders


def test_pipeline_builds_no_frame_from_python_rows():
    """The pipeline never hands ``createDataFrame`` a list, tuple, set or
    comprehension literal, directly or through a name its function binds
    to one: such a frame is a ``Scan ExistingRDD`` whose every action
    re-pickles its rows through Python workers, where an Arrow table gives
    a ``LocalRelation``."""
    import ast
    import pathlib

    from codegraphcontext_spark import pipeline

    literals = (
        ast.List, ast.Tuple, ast.Set, ast.ListComp, ast.SetComp, ast.GeneratorExp,
    )

    def calls(scope):
        """(createDataFrame call, its data argument) under ``scope``."""
        for node in ast.walk(scope):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                yield node, node.args[0] if node.args else next(
                    (k.value for k in node.keywords if k.arg == "data"), None
                )

    offenders = set()
    for path in sorted(pathlib.Path(pipeline.__file__).parent.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node, data in calls(tree):
            if isinstance(data, literals):
                offenders.add(f"{path.name}:{node.lineno}")
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            bound = {
                t.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Assign) and isinstance(n.value, literals)
                for t in n.targets if isinstance(t, ast.Name)
            }
            for node, data in calls(fn):
                if isinstance(data, ast.Name) and data.id in bound:
                    offenders.add(f"{path.name}:{node.lineno}")
    assert not offenders, sorted(offenders)


def test_scc_bowtie_anf_leave_no_cached_plan(spark):
    """kg_graph_scc, kg_graph_bowtie and kg_graph_anf_hll checkpoint their
    intermediates instead of persist()ing them, so the session's cache
    manager holds nothing once they have run."""
    for name in ("kg_graph_scc", "kg_graph_bowtie", "kg_graph_anf_hll"):
        getattr(gq, name)(spark, SF).collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()


def test_brokerage_cap_binds_pre_join(spark):
    """A hub of degree N > CAP contributes wedges from exactly CAP
    neighbors: the cap is applied BEFORE the self-join (fanout C(CAP,2)),
    not to its output."""
    n = gq._BR_NEIGHBOR_CAP + 36
    und = spark.createDataFrame(
        [("hub", f"x{i:03d}") for i in range(n)], "a string, b string"
    )
    capped = gq._capped_und(und)
    kept = sorted(r.b for r in capped.collect())
    # deterministic: the CAP smallest-id neighbors survive
    assert kept == [f"x{i:03d}" for i in range(gq._BR_NEIGHBOR_CAP)]
    w1 = capped.select(F.col("a").alias("w"), F.col("b").alias("u"))
    w2 = capped.select(F.col("a").alias("w"), F.col("b").alias("v"))
    n_wedges = w1.join(w2, "w").where(F.col("u") < F.col("v")).count()
    cap = gq._BR_NEIGHBOR_CAP
    assert n_wedges == cap * (cap - 1) // 2


def test_brokerage_capped_semantics_cross_engine(spark):
    """Where the cap BINDS, Spark and a DuckDB re-statement of the capped
    definition agree — the cap is part of the operator definition on both
    engines, not a Spark-side shortcut. Star graph: hub h linked to CAP+20
    leaves; every leaf pair is an open wedge brokered only by h."""
    import duckdb

    cap = gq._BR_NEIGHBOR_CAP
    n = cap + 20
    edges = [("h", f"x{i:03d}") for i in range(n)]
    und_rows = edges + [(b, a) for a, b in edges]
    und = spark.createDataFrame(und_rows, "a string, b string")
    capped = gq._capped_und(und)
    w1 = capped.select(F.col("a").alias("w"), F.col("b").alias("u"))
    w2 = capped.select(F.col("a").alias("w"), F.col("b").alias("v"))
    wed = w1.join(w2, "w").where(F.col("u") < F.col("v"))
    opn = wed.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    sig = opn.groupBy("u", "v").agg(F.count(F.lit(1)).alias("s"))
    sc = (
        opn.join(sig, ["u", "v"])
        .groupBy(F.col("w").alias("node_id"))
        .agg(F.sum(F.expr("1000000 div s")).alias("br"))
    )
    got = {(r.node_id, r.br) for r in sc.collect()}

    ddb = duckdb.connect()
    ddb.execute(
        "CREATE TABLE und AS SELECT * FROM (VALUES "
        + ", ".join(f"('{a}', '{b}')" for a, b in und_rows)
        + ") t(a, b)"
    )
    want = set(
        ddb.execute(
            f"""WITH cap AS (SELECT a, b FROM (
                  SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
                           ORDER BY b ASC) AS rk FROM und)
                WHERE rk <= {cap}),
            wed AS (SELECT u1.b AS u, u1.a AS w, u2.b AS v
                    FROM cap u1 JOIN cap u2
                    ON u2.a = u1.a AND u1.b < u2.b),
            opn AS (SELECT wd.u, wd.w, wd.v FROM wed wd
                    LEFT JOIN und e ON e.a = wd.u AND e.b = wd.v
                    WHERE e.a IS NULL),
            sig AS (SELECT u, v, COUNT(*) AS s FROM opn GROUP BY u, v)
            SELECT o.w, SUM(1000000 // s.s)
            FROM opn o JOIN sig s ON s.u = o.u AND s.v = o.v
            GROUP BY o.w"""
        ).fetchall()
    )
    assert got == want
    # and the hub's wedge mass reflects the CAP, not its true degree
    assert ("h", (cap * (cap - 1) // 2) * (1000000 // 1)) in got


def test_scc_query_memoized_per_session(spark, monkeypatch):
    """ensure_scc returns the same materialization for repeat calls —
    kg_graph_scc and kg_graph_bowtie share one label computation. Both
    session-memo paths (ensure_scc and the dedup family's ensure_* seams)
    key on the loader they resolve, so a monkeypatched loader gets a
    fresh build instead of the stale frame."""
    from codegraphcontext_spark.queries import driver_queries as dq

    a = gq.ensure_scc(spark, SF)
    assert gq.ensure_scc(spark, SF) is a
    s = dq.ensure_shingles(spark, SF)
    assert dq.ensure_shingles(spark, SF) is s

    real_graph, real_t = gq.ensure_graph, dq._t
    monkeypatch.setattr(gq, "ensure_graph", lambda sp, d: real_graph(sp, d))
    monkeypatch.setattr(dq, "_t", lambda sp, d, name: real_t(sp, d, name))
    b = gq.ensure_scc(spark, SF)
    assert b is not a
    assert gq.ensure_scc(spark, SF) is b
    t = dq.ensure_shingles(spark, SF)
    assert t is not s
    assert dq.ensure_shingles(spark, SF) is t


def test_anf_hll_registers_equal_exact_set_sketch(spark):
    """HyperBall's merged registers at hop h are EXACTLY the registers of
    the exact h-hop reachable set (register max distributes over set
    union) — the property that makes the sketch leg a faithful stand-in
    for the exact seen-set at any scale, checked on the sf0.001 graph."""
    from codegraphcontext_spark.queries.graph_queries import (
        _ANF_HOPS,
        _ANF_M,
        _ANF_RMAX,
        _ANF_W,
        _open_adj,
        ensure_graph,
    )
    import collections
    import hashlib

    _, edges = ensure_graph(spark, SF)
    adj = _open_adj(edges)
    rows = [(r.subj_id, r.obj_id) for r in adj.collect()]
    g = collections.defaultdict(list)
    verts = set()
    for a, b in rows:
        g[a].append(b)
        verts.update((a, b))

    def regs_of(nodes):
        regs = {}
        for v in nodes:
            h = int(hashlib.md5(v.encode()).hexdigest()[:12], 16)
            bucket, w = h % _ANF_M, (h // _ANF_M) % _ANF_W
            rho = _ANF_RMAX if w == 0 else _ANF_RMAX - len(bin(w)[2:])
            regs[bucket] = max(regs.get(bucket, 0), rho)
        return regs

    # exact forward balls at h hops
    ball = {v: {v} for v in verts}
    for _ in range(_ANF_HOPS):
        ball = {
            v: b | {w for u in b for w in g.get(u, ())} for v, b in ball.items()
        }

    # propagated registers, same merge recurrence as the Spark plan
    sk = {v: regs_of([v]) for v in verts}
    for _ in range(_ANF_HOPS):
        nxt = {}
        for v in verts:
            m = dict(sk[v])
            for u in g.get(v, ()):
                for bkt, r in sk[u].items():
                    m[bkt] = max(m.get(bkt, 0), r)
            nxt[v] = m
        sk = nxt

    for v in verts:
        assert sk[v] == regs_of(ball[v]), v


def test_scc_distributed_branch_random_graph(spark, monkeypatch):
    """Randomized equivalence pin: on a seeded random digraph (60 nodes,
    ~150 edges — multiple nontrivial SCCs, tendrils, disconnected bits)
    the distributed trim+peel branch produces EXACTLY the driver-Tarjan
    labels. The hand fixture pins the easy shapes; this pins the peel
    loop's round structure (multi-round assignment, edge restriction)
    against an independent implementation."""
    import random

    rng = random.Random(7)
    n = 60
    edges = {(f"v{rng.randrange(n):02d}", f"v{rng.randrange(n):02d}")
             for _ in range(150)}
    edges = [(a, b) for a, b in sorted(edges) if a != b]
    adj = spark.createDataFrame(edges, "subj_id string, obj_id string")

    monkeypatch.delenv("CGC_SCC_SMALL_CUTOVER", raising=False)
    want = _labels_of(adj)
    assert want, "seed should produce at least one nontrivial SCC"
    monkeypatch.setenv("CGC_SCC_SMALL_CUTOVER", "0")
    got = _labels_of(adj)
    assert got == want


def test_pipeline_lineage_counts_nested_part_files(spark, tmp_path, monkeypatch):
    """kg_pipeline_lineage lists part files recursively: a stage whose data
    dir holds a part file one directory down (a partitionBy layout) still
    reconciles instead of silently undercounting its committed rows."""
    import shutil

    gq.ensure_graph(spark, SF)
    root = tmp_path / "graphs"
    shutil.copytree(gq.graph_dir(SF), root / os.path.basename(SF))
    monkeypatch.setattr(gq, "_ROOT", str(root))
    data = root / os.path.basename(SF) / "wd" / "docs" / "data"
    part = max(data.glob("*.parquet"), key=lambda p: p.stat().st_size)
    (data / "lang=xx").mkdir()
    part.rename(data / "lang=xx" / part.name)
    rows = {r.stage: r for r in gq.kg_pipeline_lineage(spark, SF).collect()}
    assert rows["docs"].data_rows == rows["docs"].manifest_rows > 0
    assert all(r.consistent == 1 for r in rows.values()), rows
