"""Replicates the driver's correctness gate locally: run every queries() entry
on Spark AND its oracle_sql() twin on DuckDB over the same parquet tables at
sf0.01, compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from codegraphcontext_spark.oracle_gate import canon, compare, register_views

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    register_views(con, SF_DIR)
    return con


QUERY_NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR).toPandas()
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        # rows-only contract: must run and be deterministic across reruns
        again = q(spark, SF_DIR).toPandas()
        assert canon(sdf).equals(canon(again))
        return
    odf = ddb.execute(sql).df()
    r = compare(sdf, odf)
    assert r["schema"], (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert r["rows"], f"{name}: rowcount {len(sdf)} vs {len(odf)}"
    assert r["types"], (
        f"{name}: dtype-kind mismatch (driver's hash is type-strict — "
        f"likely an uncast SUM in the oracle twin): "
        f"{[(c, str(sdf[c].dtype), str(odf[c].dtype)) for c in sdf.columns]}"
    )
    if not r["values"]:
        a, b = canon(sdf), canon(odf)
        for col in a.columns:
            assert a[col].tolist() == b[col].tolist(), (
                f"{name}: values differ in column {col}: "
                f"{a[col].tolist()[:5]} vs {b[col].tolist()[:5]}"
            )


def test_components_gate_on_distributed_cc_path(spark, ddb, monkeypatch):
    """The min-label LOOP branch of connected_components (the web-scale
    path) must pass the same oracle gate as the union-find fast path: force
    the cutover to 0 so kg_graph_components takes the loop on the sf0.01
    fixture, assert the branch actually ran, then run the full shared-gate
    compare against the recursive-CTE oracle."""
    import codegraphcontext_spark.pipeline.canon as canon_mod

    monkeypatch.setenv("CGC_CC_SMALL_CUTOVER", "0")
    canon_mod.LAST_CC_PATH = None
    sdf = entry_mod.queries()["kg_graph_components"](spark, SF_DIR).toPandas()
    assert canon_mod.LAST_CC_PATH == "min-label-loop"
    odf = ddb.execute(entry_mod.oracle_sql()["kg_graph_components"]).df()
    r = compare(sdf, odf)
    assert all(r.values()), r


def _small_graph_legs(monkeypatch, cutover):
    """Set the kernels' small-graph cutover (None = the default) and spy on
    graph_queries.small_graph: the returned list records, per call, whether
    the small-graph leg ran (True) or the distributed loop (False)."""
    import codegraphcontext_spark.queries.graph_queries as gq

    if cutover is None:
        monkeypatch.delenv("CGC_SCC_SMALL_CUTOVER", raising=False)
    else:
        monkeypatch.setenv("CGC_SCC_SMALL_CUTOVER", cutover)
    legs = []
    real = gq.small_graph

    def spy(*args, **kwargs):
        g = real(*args, **kwargs)
        legs.append(g is not None)
        return g

    monkeypatch.setattr(gq, "small_graph", spy)
    return legs


# both legs of the rank kernels' small-graph cutover: the default (the
# sf0.01 graph is far below it, so the driver-side leg runs) and 0 (the
# distributed loop)
_CUTOVERS = pytest.mark.parametrize(
    "cutover", [None, "0"], ids=["small-graph", "distributed"]
)


@pytest.mark.parametrize(
    "name", ["kg_graph_pagerank", "kg_graph_ppr", "kg_graph_hits"]
)
def test_rank_gate_on_distributed_path(spark, ddb, monkeypatch, name):
    """The distributed rounds of PageRank, personalized PageRank and HITS
    (the web-scale path) must pass the same oracle gate as the small-graph
    leg the default cutover takes at sf0.01: force the cutover to 0, assert
    the distributed loop actually ran, then run the shared-gate compare."""
    legs = _small_graph_legs(monkeypatch, "0")
    sdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    assert legs == [False]
    odf = ddb.execute(entry_mod.oracle_sql()[name]).df()
    r = compare(sdf, odf)
    assert all(r.values()), r


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "n_occ"]


def test_documents_are_ascii(ddb):
    """Precondition of the mm_frame_sample oracle: its char-based substring
    slicing is byte-identical to the Spark side's byte slicing only for pure
    ASCII text. If this fails, the oracle must move to blob-true slicing."""
    n = ddb.execute(
        "SELECT COUNT(*) FROM documents "
        "WHERE octet_length(encode(text)) <> length(text)"
    ).fetchone()[0]
    assert n == 0


def test_bm25_length_normalization(spark, tmp_path):
    """A long document stuffing one query term no longer outranks a short
    document matching every query term: k1 saturates tf (50 occurrences of
    'merge' score ~2.2x one occurrence, not 50x) and b penalizes length.
    Under the previous plain tf*idf weighting doc 2 scored 50_000 vs 5_000."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codegraphcontext_spark.queries.driver_queries import kg_search_tfidf

    short = "merge window hash done"
    long = " ".join(["merge"] * 50 + ["filler"] * 450)
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array([short, long], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["t", "t"], pa.string()),
            "n_chars": pa.array([len(short), len(long)], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = kg_search_tfidf(spark, str(tmp_path)).collect()
    assert [r.doc_id for r in rows] == [1, 2]
    # hand-computed scaled-integer scores: N=2, L=504
    assert rows[0].relevance == 8_375_000
    assert rows[1].relevance == 2_111_000


def test_fuzzy_search_typo_recall(spark, tmp_path):
    """The padded-trigram Jaccard scorer behind kg_search_fuzzy must rank
    the typo's true target first: a corpus whose vocabulary contains
    'acme', 'corp', 'crop' (the distractor — 'crop' IS a real word here)
    plus noise, queried with the needles, puts each true term at rank 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import codegraphcontext_spark.queries.driver_queries as dq

    text = "acme corp crop acres carp zenith filter fliter stream"
    tbl = pa.table(
        {
            "doc_id": pa.array([1], pa.int64()),
            "text": pa.array([text], pa.string()),
            "lang": pa.array(["en"], pa.string()),
            "source": pa.array(["t"], pa.string()),
            "n_chars": pa.array([len(text)], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    orig_needles = dq._FUZZY_NEEDLES
    try:
        dq._FUZZY_NEEDLES = ["crop", "acmee"]
        rows = dq.kg_search_fuzzy(spark, str(tmp_path)).collect()
    finally:
        dq._FUZZY_NEEDLES = orig_needles
    top = {
        r.needle: r.term for r in rows if r.rnk == 1
    }
    # 'crop' matches itself exactly (Jaccard 1.0) — identity is rank 1;
    # 'acmee' (typo) must recall 'acme' over 'acres'/'carp'
    assert top["crop"] == "crop"
    assert top["acmee"] == "acme"
    # the exact self-match scores 1.0 scaled
    exact = [r for r in rows if r.needle == "crop" and r.term == "crop"]
    assert exact[0].jaccard_x1e6 == 1_000_000


@_CUTOVERS
def test_pagerank_mass_conservation(spark, monkeypatch, cutover):
    """With dangling mass redistributed, total rank mass is conserved up to
    floor-division slack: every div floors toward zero, so the sum can only
    drift DOWN from SCALE, bounded by ~one unit per floor op per iteration."""
    from codegraphcontext_spark.queries.graph_queries import (
        _PR_SCALE,
        ensure_graph,
        pagerank_ranks,
    )

    nodes, edges = ensure_graph(spark, SF_DIR)
    n = nodes.count()
    n_edges = edges.select("subj_id", "obj_id").distinct().count()
    legs = _small_graph_legs(monkeypatch, cutover)
    total = pagerank_ranks(nodes, edges).agg({"rank": "sum"}).first()[0]
    assert legs == [cutover is None]
    # loss bound: per iteration < n_edges (contrib divs) + n (outer divs)
    # + n (dang div) + 1, plus the initial SCALE // n remainder
    slack = 5 * (n_edges + 2 * n + 1) + n
    assert 0 <= _PR_SCALE - total <= slack, (total, _PR_SCALE, slack)


@_CUTOVERS
def test_hits_normalization_and_determinism(spark, monkeypatch, cutover):
    """Each HITS half-step renormalizes the score vector to ~SCALE by
    integer floor division, so (a) the final auth/hub vectors each sum to
    SCALE within floor slack (one unit lost per node per normalize), and
    (b) re-running the query yields bit-identical top-20 rows (no float,
    no partitioning sensitivity)."""
    from codegraphcontext_spark.queries.graph_queries import (
        _HITS_SCALE,
        kg_graph_hits,
    )

    legs = _small_graph_legs(monkeypatch, cutover)
    rows = kg_graph_hits(spark, SF_DIR).collect()
    assert len(rows) == 20
    # top-20 is a view; recompute full sums via a second run's DataFrame
    rows2 = kg_graph_hits(spark, SF_DIR).collect()
    assert legs == [cutover is None] * 2
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]
    # auth scores are positive for mentioned entities and bounded by SCALE
    assert all(0 <= r.auth <= _HITS_SCALE for r in rows)
    assert all(0 <= r.hub <= _HITS_SCALE for r in rows)
    # the top authority must dominate: strictly positive score
    assert rows[0].auth > 0


def test_label_prop_deterministic_partition(spark):
    """Synchronous rounds + deterministic tie-break: bit-identical output
    across runs, and the reported communities are a true partition slice
    (sizes >= 1, community labels are real node ids with names)."""
    from codegraphcontext_spark.queries.graph_queries import (
        ensure_graph,
        kg_graph_label_prop,
    )

    rows = kg_graph_label_prop(spark, SF_DIR).collect()
    rows2 = kg_graph_label_prop(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]
    assert rows, "expected at least one community"
    nodes, _ = ensure_graph(spark, SF_DIR)
    n = nodes.count()
    assert all(1 <= r.n_members <= n for r in rows)
    assert all(r.community_name for r in rows)
    # sizes are reported descending
    sizes = [r.n_members for r in rows]
    assert sizes == sorted(sizes, reverse=True)


def test_pack_tokens_bins_hand_computed(spark, tmp_path):
    """Packing on a hand-built corpus: one lang, doc_ids all in shard 1
    (ids 1,9,17,25 ≡ 1 mod 8), 1000 tokens each, budget 2048 → docs start
    at offsets 0/1000/2000/3000 → bins 0,0,0,1. Invariants: every doc
    packed exactly once, bin token sums reconstruct the corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codegraphcontext_spark.queries.driver_queries import curate_pack_tokens

    text = " ".join(["tok"] * 1000)
    ids = [1, 9, 17, 25]
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([text] * 4, pa.string()),
            "lang": pa.array(["en"] * 4, pa.string()),
            "source": pa.array(["t"] * 4, pa.string()),
            "n_chars": pa.array([len(text)] * 4, pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {
        (r.lang, r.shard, r.bin): r
        for r in curate_pack_tokens(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {("en", 1, 0), ("en", 1, 1)}
    b0, b1 = rows[("en", 1, 0)], rows[("en", 1, 1)]
    assert (b0.n_docs, b0.sum_tokens, b0.first_doc, b0.last_doc) == (3, 3000, 1, 17)
    assert (b1.n_docs, b1.sum_tokens, b1.first_doc, b1.last_doc) == (1, 1000, 25, 25)
    # conservation: every token of the corpus lands in exactly one bin
    assert sum(r.sum_tokens for r in rows.values()) == 4000
    assert sum(r.n_docs for r in rows.values()) == 4


def test_retention_hand_computed(spark, tmp_path):
    """D1/D7 cohort flags on a hand-built stream: A returns next day, B on
    day 7 exactly, C never, D cohorts two days later and returns next day."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from codegraphcontext_spark.queries.driver_queries import events_retention

    d = lambda day, h=0: datetime(2024, 3, 1 + day, h)  # noqa: E731
    rows = [  # (event_id, ts, user_id)
        (1, d(0), 1), (2, d(1), 1),          # A: d1 yes
        (3, d(0), 2), (4, d(7), 2),          # B: d7 yes
        (5, d(0), 3),                         # C: neither
        (6, d(2), 4), (7, d(3), 4),          # D: later cohort, d1 yes
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {
        r.cohort_day: (r.n_users, r.d1_retained, r.d7_retained)
        for r in events_retention(spark, str(tmp_path)).collect()
    }
    assert got == {"2024-03-01": (3, 1, 1), "2024-03-03": (1, 1, 0)}


def test_keywords_hand_computed(spark, tmp_path):
    """TF-IDF keywords on a two-doc corpus: N=2, idf_x1000(apple)=2000,
    (banana)=1000, (cherry)=2000 → doc 1 ranks apple (tf2 × 2000 = 4000)
    over banana (1000); doc 2 ranks cherry over banana."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codegraphcontext_spark.queries.driver_queries import text_keywords

    texts = ["apple apple banana", "banana cherry"]
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["t", "t"], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        (r.doc_id, r.rank): (r.keyword, r.score)
        for r in text_keywords(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, 1): ("apple", 4000),
        (1, 2): ("banana", 1000),
        (2, 1): ("cherry", 2000),
        (2, 2): ("banana", 1000),
    }


def test_winnow_shared_substring_guarantee(spark, tmp_path):
    """Winnowing guarantee (Schleimer et al. 2003): two documents sharing a
    token run of at least W+k-1 = 4+3-1 = 6 tokens MUST share at least one
    fingerprint, while documents with no 3-gram in common share none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codegraphcontext_spark.queries.driver_queries import text_winnow

    shared_run = "alpha beta gamma delta epsilon zeta"  # 6 tokens >= W+k-1
    texts = [
        "one two three " + shared_run + " four five six",
        "seven eight nine ten " + shared_run,
        "p q r s t u v w x y z aa bb cc",  # disjoint vocabulary
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["t"] * 3, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {r.doc_id: r for r in text_winnow(spark, str(tmp_path)).collect()}
    # docs 0 and 1 share the 6-token run -> each reports >= 1 shared fp
    assert rows[0].n_shared_fps >= 1
    assert rows[1].n_shared_fps >= 1
    # doc 2 shares no 3-gram with anything -> zero shared fingerprints
    assert rows[2].n_shared_fps == 0
    # density bound: fingerprints never exceed shingle count
    assert 1 <= rows[2].n_fps <= 14 - 2


def test_kmv_merge_is_lossless(spark):
    """KMV mergeability: the ALL row's estimate — computed ONLY from the
    per-day sketches — equals the estimate a direct whole-stream sketch
    gives, because the K minima of a union equal the K minima of the union
    of per-part K minima."""
    from pyspark.sql import functions as F

    from codegraphcontext_spark.queries.driver_queries import (
        _KMV_K,
        _KMV_SPACE,
        events_kmv_daily,
    )

    rows = {r.scope: r for r in events_kmv_daily(spark, SF_DIR).collect()}
    merged = rows["ALL"]
    # direct whole-stream sketch, computed independently of any day split
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    h = F.expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) "
        "AS BIGINT)"
    )
    hs = sorted(
        r.h for r in ev.select(h.alias("h")).distinct().collect()
    )
    direct = (
        len(hs)
        if len(hs) < _KMV_K
        else ((_KMV_K - 1) * _KMV_SPACE) // hs[_KMV_K - 1]
    )
    assert merged.est_distinct == direct
    assert merged.n_distinct_exact == len(hs)
    # the estimate is a real estimate: within 40% of exact at K=64
    assert abs(merged.est_distinct - len(hs)) <= 0.4 * len(hs)


def test_substr_spans_are_maximal_and_positional(spark, tmp_path):
    """Hand-built pair: doc 2 copies a 20-token run from the middle of
    doc 1 (at a different offset) plus unrelated text. Exactly ONE span
    must come back — maximal (the full 20 tokens, not K-sized fragments) —
    with the correct 1-based start positions on both sides."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codegraphcontext_spark.queries.driver_queries import (
        _SUB_K,
        dedup_substr_spans,
    )

    shared = [f"w{i}" for i in range(20)]
    d1 = [f"a{i}" for i in range(7)] + shared + [f"b{i}" for i in range(9)]
    d2 = [f"c{i}" for i in range(3)] + shared + [f"d{i}" for i in range(30)]
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array([" ".join(d1), " ".join(d2)], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["t", "t"], pa.string()),
            "n_chars": pa.array([1, 1], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = dedup_substr_spans(spark, str(tmp_path)).collect()
    assert len(rows) == 1, rows
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.span_len == 20
    assert r.start_a == 8   # 1-based: after 7 'a' tokens
    assert r.start_b == 4   # 1-based: after 3 'c' tokens
    assert _SUB_K <= 20  # the test presumes the span exceeds the fingerprint


def test_fuzzy_index_equals_scan(spark):
    """The inverted-gram-index fuzzy search must return EXACTLY the scan
    variant's rows (the candidate filter is lossless above any positive
    threshold: Jaccard > 0 requires a shared gram)."""
    from codegraphcontext_spark.queries.driver_queries import (
        kg_search_fuzzy,
        kg_search_fuzzy_idx,
    )

    scan = kg_search_fuzzy(spark, SF_DIR).collect()
    idx = kg_search_fuzzy_idx(spark, SF_DIR).collect()
    assert [tuple(r) for r in scan] == [tuple(r) for r in idx]


def test_substr_spans_match_bruteforce_reference(spark, tmp_path):
    """Randomized (seeded) cross-check of the distributed diagonal-runs
    span merge against a direct per-pair reference: for every document
    pair, maximal spans = maximal diagonal runs of exact K-gram matches.
    Docs are built from unique filler tokens plus planted shared runs, so
    the df-cap never binds and the reference stays exact."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from codegraphcontext_spark.queries.driver_queries import (
        _SUB_K,
        _SUB_MIN_SPAN,
        dedup_substr_spans,
    )

    rng = random.Random(7)
    shared = [[f"s{g}_{i}" for i in range(rng.randint(12, 30))] for g in range(3)]
    docs = {}
    uid = 0
    for d in range(1, 5):
        toks = []
        for g, run in enumerate(shared):
            filler = [f"f{uid + i}" for i in range(rng.randint(3, 10))]
            uid += len(filler)
            toks += filler
            if rng.random() < 0.7:
                toks += run
        toks += [f"f{uid + i}" for i in range(rng.randint(3, 10))]
        uid += 20
        docs[d] = toks

    def ref_spans(a, b):
        out = []
        na, nb = len(a) - _SUB_K + 1, len(b) - _SUB_K + 1
        match = {
            (i, j)
            for i in range(na)
            for j in range(nb)
            if a[i:i + _SUB_K] == b[j:j + _SUB_K]
        }
        for (i, j) in sorted(match):
            if (i - 1, j - 1) in match:
                continue  # not a run start
            ln = 0
            while (i + ln, j + ln) in match:
                ln += 1
            span = ln - 1 + _SUB_K
            if span >= _SUB_MIN_SPAN:
                out.append((i + 1, j + 1, span))  # 1-based
        return sorted(out)

    expected = []
    ids = sorted(docs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            for sa, sb, ln in ref_spans(docs[ids[x]], docs[ids[y]]):
                expected.append((ids[x], ids[y], sa, sb, ln))

    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([" ".join(docs[d]) for d in ids], pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(["t"] * len(ids), pa.string()),
            "n_chars": pa.array([1] * len(ids), pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = sorted(
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_len)
        for r in dedup_substr_spans(spark, str(tmp_path)).collect()
    )
    assert expected, "degenerate fixture: no planted span survived"
    assert got == sorted(expected)


def test_kge_train_pairs_invariants(spark):
    """Corruption semantics: negatives never coincide with a real triple
    (the anti-join), at most 2 per positive (one per corruption side),
    and the whole dataset is deterministic across re-runs."""
    from codegraphcontext_spark.queries.graph_queries import kg_kge_train_pairs

    df = kg_kge_train_pairs(spark, SF_DIR).toPandas()
    pos = df[df.label == 1][["subj_id", "pred", "obj_id"]]
    neg = df[df.label == 0][["subj_id", "pred", "obj_id"]]
    assert len(pos) > 0 and len(neg) > 0
    # no false negatives survive the anti-join
    assert neg.merge(pos, on=["subj_id", "pred", "obj_id"]).empty
    # bounded corruption: <=2 distinct negatives per positive, and the
    # hash-modulo draw can't collapse below half after dedup/self-collisions
    assert len(neg) <= 2 * len(pos)
    assert len(neg) >= len(pos) // 2
    # negatives are distinct rows
    assert not neg.duplicated().any()
    # deterministic end to end (hash-seeded, no RNG)
    df2 = kg_kge_train_pairs(spark, SF_DIR).toPandas()
    assert df.equals(df2)


def test_verbalize_invariants(spark):
    """Every open-pred triple verbalizes to exactly one well-formed
    sentence, the token count is the whitespace split length, and the
    template table covers every predicate the pipeline can emit (so the
    lowercase fallback is a guard, not a silently-diverging live path)."""
    from codegraphcontext_spark.queries.graph_queries import (
        _VERB_TEMPLATES,
        ensure_graph,
        kg_verbalize,
    )
    from pyspark.sql import functions as F

    df = kg_verbalize(spark, SF_DIR).toPandas()
    assert len(df) > 0
    assert df.sentence.str.endswith(".").all()
    assert (df.n_tokens == df.sentence.str.split(" ").str.len()).all()
    # each sentence embeds its own subj/obj surface forms
    assert df.apply(lambda r: r.sentence.startswith(r.subj + " "), axis=1).all()
    assert df.apply(lambda r: r.sentence.endswith(" " + r.obj + "."), axis=1).all()
    templated = {k for k, _ in _VERB_TEMPLATES}
    _, edges = ensure_graph(spark, SF_DIR)
    live = {
        r.pred
        for r in edges.select("pred").distinct().collect()
        if r.pred not in ("MENTIONS", "LINKS_TO", "HAS_TYPE")
    }
    assert live <= templated, f"untemplated live predicates: {live - templated}"


def test_er_blocking_quality_invariants(spark):
    """Metric sanity: one row, hits bounded by both pair sets, candidate
    count bounded by C(n,2), and on the deterministic fixture the 4-band
    LSH blocks every Jaccard>=0.5 truth pair (pc == 1.0) while pruning
    >99% of the pair space (rr > 0.99)."""
    from codegraphcontext_spark.queries.driver_queries import (
        er_blocking_quality,
    )

    df = er_blocking_quality(spark, SF_DIR).toPandas()
    assert len(df) == 1
    r = df.iloc[0]
    assert r.n_truth > 0 and r.n_cand > 0
    assert r.n_hit <= min(r.n_truth, r.n_cand)
    assert r.n_cand <= r.n_docs * (r.n_docs - 1) // 2
    # deterministic corpus + seeded md5 minhash: the planted near-dups all
    # share at least one band, and blocking prunes >99% of C(n,2)
    assert r.pc_x1e6 == 1_000_000
    assert 990_000 < r.rr_x1e6 < 1_000_000


def test_assortativity_hand_computed_star_and_regular(spark, monkeypatch):
    """Newman's r on a hand-built star K1,4 is exactly -1 (hubs attach
    only to leaves) and NULL on a degree-regular triangle (zero variance)
    — pinning the scaled trunc-division path including its negative
    numerator, the case where Spark DIV / DuckDB // parity matters."""
    import codegraphcontext_spark.queries.graph_queries as gq

    def fake_graph(rows):
        edges = spark.createDataFrame(
            [(s, "FOUNDED", o, 1, "u", 0) for s, o in rows],
            "subj_id string, pred string, obj_id string, "
            "n_occurrences long, first_url string, first_sent_id int",
        )
        nodes = spark.createDataFrame(
            [("x", "Entity", "x", "", "en")],
            "node_id string, node_type string, name string, "
            "etype string, lang string",
        )
        return nodes, edges

    star = fake_graph([("c", l) for l in ("l1", "l2", "l3", "l4")])
    monkeypatch.setattr(gq, "ensure_graph", lambda *_: star)
    row = gq.kg_graph_assortativity(spark, SF_DIR).first()
    assert row.n_pairs == 8
    assert row.assortativity_x1e6 == -1_000_000

    tri = fake_graph([("a", "b"), ("b", "c"), ("a", "c")])
    monkeypatch.setattr(gq, "ensure_graph", lambda *_: tri)
    row = gq.kg_graph_assortativity(spark, SF_DIR).first()
    assert row.n_pairs == 6
    assert row.assortativity_x1e6 is None


def test_cms_estimates_dominate_exact(spark):
    """CMS soundness: the min-over-rows estimate can NEVER undercount (a
    key's own increments land in all D of its cells), and the returned
    top-k is ordered by the estimate with the exact count riding along."""
    from codegraphcontext_spark.queries.driver_queries import events_cms_topk

    rows = events_cms_topk(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.est_cms >= r.n_exact > 0
    ests = [r.est_cms for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_cms_sketch_merges_cellwise(spark):
    """CMS mergeability (the 1000-executor contract): the sketch of the
    full stream equals the CELL-WISE SUM of the sketches of any split —
    so per-partition grids combine losslessly in a D*W-row shuffle."""
    from pyspark.sql import functions as F

    from codegraphcontext_spark.queries.driver_queries import (
        _CMS_D,
        _CMS_W,
        _cms_cell_expr,
    )

    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_id")
    )

    def grid(df):
        structs = F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(_cms_cell_expr(d, "user_id")).alias("cell"),
                )
                for d in range(_CMS_D)
            ]
        )
        cells = df.select(F.explode(structs).alias("x")).select(
            "x.d", "x.cell"
        )
        out = {
            (r.d, r.cell): r.n
            for r in cells.groupBy("d", "cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert len(out) <= _CMS_D * _CMS_W
        return out

    whole = grid(ev)
    lo = grid(ev.where(F.col("event_id") % 2 == 0))
    hi = grid(ev.where(F.col("event_id") % 2 == 1))
    merged: dict = {}
    for part in (lo, hi):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_quantile_sample_hand_computed(spark, tmp_path):
    """Hand-built group: values 1..100 (n < K) make the sample the whole
    group, so est == exact at every q and the exact ranks are the
    ceil(q*n/100)-th order statistics (50, 90, 99). A second 300-row group
    (n > K) exercises the real subsample: estimates stay inside the value
    range and both legs are monotone in q."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from codegraphcontext_spark.queries.driver_queries import (
        events_quantile_sample,
    )

    n_small, n_big = 100, 300
    rows = [
        ("small", i + 1, float(i + 1)) for i in range(n_small)
    ] + [("big", 1000 + i, float((i * 7) % 300 + 1)) for i in range(n_big)]
    tbl = pa.table(
        {
            "event_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([datetime(2024, 1, 1)] * len(rows)),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[0] for r in rows]),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    out = {
        (r.event_type, r.q): r
        for r in events_quantile_sample(spark, str(tmp_path)).collect()
    }
    assert len(out) == 6
    for q in (50, 90, 99):
        r = out[("small", q)]
        assert r.exact_x1e6 == q * 1_000_000  # rank ceil(q) of 1..100
        assert r.est_x1e6 == r.exact_x1e6     # n < K: sample IS the data
    prev_e = prev_s = 0
    for q in (50, 90, 99):
        r = out[("big", q)]
        assert 1_000_000 <= r.est_x1e6 <= 300_000_000
        assert r.exact_x1e6 >= prev_e and r.est_x1e6 >= prev_s
        prev_e, prev_s = r.exact_x1e6, r.est_x1e6


def test_modularity_hand_computed(spark, monkeypatch):
    """Two hand graphs pin the math: a perfectly-assortative pair of
    communities (intra edges only) gives each etype contrib = +0.25, and
    a perfect bipartite crossing gives -0.25 each — the sum is Newman's
    Q = +/-0.5 exactly."""
    import codegraphcontext_spark.queries.graph_queries as gq

    def fake_graph(edge_rows):
        edges = spark.createDataFrame(
            [(s, "FOUNDED", o, 1, "u", 0) for s, o in edge_rows],
            "subj_id string, pred string, obj_id string, "
            "n_occurrences long, first_url string, first_sent_id int",
        )
        nodes = spark.createDataFrame(
            [
                (n, "Entity", n, et, "en")
                for n, et in [
                    ("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B"),
                ]
            ],
            "node_id string, node_type string, name string, "
            "etype string, lang string",
        )
        return nodes, edges

    monkeypatch.setattr(
        gq, "ensure_graph", lambda *_: fake_graph([("a1", "a2"), ("b1", "b2")])
    )
    rows = {r.etype: r for r in gq.kg_graph_modularity(spark, SF_DIR).collect()}
    assert set(rows) == {"A", "B"}
    for et in ("A", "B"):
        assert rows[et].n_intra == 1 and rows[et].deg_sum == 2
        assert rows[et].observed_x1e6 == 500_000
        assert rows[et].expected_x1e6 == 250_000
        assert rows[et].contrib_x1e6 == 250_000

    monkeypatch.setattr(
        gq, "ensure_graph", lambda *_: fake_graph([("a1", "b1"), ("a2", "b2")])
    )
    rows = {r.etype: r for r in gq.kg_graph_modularity(spark, SF_DIR).collect()}
    for et in ("A", "B"):
        assert rows[et].n_intra == 0 and rows[et].deg_sum == 2
        assert rows[et].contrib_x1e6 == -250_000


def test_scc_hand_computed_cycle_and_chain(spark, monkeypatch):
    """Hand graph: a 3-cycle a->b->c->a plus a chain c->d->e. The cycle is
    one SCC of 3; d and e are singletons even though they are REACHABLE
    from the cycle (reachability is not mutuality — the weak-CC query
    would merge all five)."""
    import codegraphcontext_spark.queries.graph_queries as gq

    edges = spark.createDataFrame(
        [
            (s, "FOUNDED", o, 1, "u", 0)
            for s, o in [
                ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
            ]
        ],
        "subj_id string, pred string, obj_id string, "
        "n_occurrences long, first_url string, first_sent_id int",
    )
    nodes = spark.createDataFrame(
        [(n, "Entity", n, "org", "en") for n in "abcde"],
        "node_id string, node_type string, name string, "
        "etype string, lang string",
    )
    monkeypatch.setattr(gq, "ensure_graph", lambda *_: (nodes, edges))
    rows = {r.rep_name: r for r in gq.kg_graph_scc(spark, SF_DIR).collect()}
    assert set(rows) == {"a", "d", "e"}
    assert rows["a"].n_members == 3 and rows["a"].members == "a,b,c"
    assert rows["d"].n_members == 1 and rows["e"].n_members == 1


def test_lpa_two_cliques_bridge(spark, monkeypatch):
    """LPA on two triangles joined by one bridge edge (c-d) converges in
    the fixed 4 sync iterations to exactly the two cliques — hand-traced
    with the (count DESC, label ASC) tie rule: {a,b,c} -> label 'a',
    {d,e,f} -> label 'c'."""
    import codegraphcontext_spark.queries.graph_queries as gq

    pairs = [("a", "b"), ("b", "c"), ("a", "c"),
             ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")]
    edges = spark.createDataFrame(
        [(s, "FOUNDED", o, 1, "u", 0) for s, o in pairs],
        "subj_id string, pred string, obj_id string, "
        "n_occurrences long, first_url string, first_sent_id int",
    )
    nodes = spark.createDataFrame(
        [(n, "Entity", n, "org", "en") for n in "abcdef"],
        "node_id string, node_type string, name string, "
        "etype string, lang string",
    )
    monkeypatch.setattr(gq, "ensure_graph", lambda *_: (nodes, edges))
    rows = {r.community: r for r in gq.kg_graph_lpa(spark, SF_DIR).collect()}
    assert set(rows) == {"a", "c"}
    assert rows["a"].n_members == 3
    assert rows["c"].n_members == 3


def test_katz_hand_computed_chain(spark, monkeypatch):
    """Katz on a->b, a->c, b->c reaches its integer fixpoint inside the 5
    iterations: a=1000 (no in-edges, pure bias), b=1250 (one hop from a),
    c=1562 ((1000+1250)//4 + 1000) — pinning the floor-divide attenuation
    and the bias term."""
    import codegraphcontext_spark.queries.graph_queries as gq

    edges = spark.createDataFrame(
        [(s, "FOUNDED", o, 1, "u", 0)
         for s, o in [("a", "b"), ("a", "c"), ("b", "c")]],
        "subj_id string, pred string, obj_id string, "
        "n_occurrences long, first_url string, first_sent_id int",
    )
    nodes = spark.createDataFrame(
        [(n, "Entity", n, "org", "en") for n in "abc"],
        "node_id string, node_type string, name string, "
        "etype string, lang string",
    )
    monkeypatch.setattr(gq, "ensure_graph", lambda *_: (nodes, edges))
    rows = gq.kg_graph_katz(spark, SF_DIR).collect()
    assert [(r.name, r.katz) for r in rows] == [
        ("c", 1562), ("b", 1250), ("a", 1000),
    ]


def test_clf_score_separates_weak_labels(spark):
    """The hashed classifier must (a) emit a bounded integer probability
    per document, (b) derive `keep` from the 500000 threshold, and (c)
    actually SEPARATE the weak classes it was trained on: mean score of
    weakly-positive docs above mean score of weakly-negative docs."""
    from codegraphcontext_spark.queries.driver_queries import (
        curate_clf_score,
        curate_train_labels,
    )
    from pyspark.sql import functions as F

    sc = curate_clf_score(spark, SF_DIR)
    rows = sc.collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 <= r.clf_score_x1e6 <= 1_000_000
        assert r.keep == (1 if r.clf_score_x1e6 >= 500_000 else 0)
    lab = curate_train_labels(spark, SF_DIR).select("doc_id", "label")
    m = (
        sc.join(lab, "doc_id")
        .groupBy("label")
        .agg(F.avg("clf_score_x1e6").alias("mean_score"))
        .collect()
    )
    means = {r.label: r.mean_score for r in m}
    assert means[1] > means[0]


def test_bloom_prune_soundness(spark):
    """Bloom semi-join soundness: no false negatives (bloom count >=
    exact count), a small measured false-positive rate (k=2, m=4096,
    <=150 keys inserted -> fp well under 5%), and internally consistent
    counters."""
    from codegraphcontext_spark.queries.driver_queries import (
        events_bloom_prune,
    )

    r = events_bloom_prune(spark, SF_DIR).first()
    assert 0 < r.n_flagged < 150
    assert 0 < r.n_exact <= r.n_bloom <= r.n_events
    assert r.n_false_pos == r.n_bloom - r.n_exact
    assert 0 <= r.fp_rate_x1e6 < 50_000


def test_edge_timeline_intervals_ordered(spark):
    """Every temporal edge interval is well-formed (from <= to, span in
    days consistent, at least one attesting site) and the top-k output
    is ordered by attestation count."""
    import codegraphcontext_spark.queries.graph_queries as gq

    rows = gq.kg_graph_edge_timeline(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 50
    for r in rows:
        assert r.valid_from_us <= r.valid_to_us
        assert r.span_days == (r.valid_to_us - r.valid_from_us) // 86_400_000_000
        assert r.n_sites >= 1
    ns = [r.n_sites for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_containment_catches_jaccard_blind_spot(spark, monkeypatch):
    """A small doc fully embedded in a much larger one: Jaccard is tiny
    (shared/union) but containment of the small side is exactly 1.0 —
    the pair MUST surface with cont_a_x1e6 == 1_000_000 while the
    symmetric jaccard detector (>= 0.7) would never emit it."""
    import codegraphcontext_spark.queries.driver_queries as dq

    small = " ".join(f"w{i}" for i in range(8))           # 6 shingles
    big = small + " " + " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, small, "en"), (2, big, "en")],
        "doc_id long, text string, lang string",
    )
    monkeypatch.setattr(dq, "_t", lambda *_: docs)
    rows = dq.dedup_containment(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.cont_a_x1e6 == 1_000_000          # small fully inside big
    assert r.cont_b_x1e6 < 700_000             # big is NOT inside small
    # and symmetric jaccard would have missed it
    jac = r.n_shared * 1_000_000 // (6 + 46 - r.n_shared)
    assert jac < 700_000


def test_containment_pairs_meet_threshold(spark):
    """Every emitted pair clears the 0.7 containment bar in at least one
    direction, and containments are valid proportions."""
    from codegraphcontext_spark.queries.driver_queries import (
        dedup_containment,
    )

    rows = dedup_containment(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert max(r.cont_a_x1e6, r.cont_b_x1e6) >= 700_000
        assert 0 < r.cont_a_x1e6 <= 1_000_000
        assert 0 < r.cont_b_x1e6 <= 1_000_000


def test_dsir_sample_shifts_toward_target(spark):
    """The whole point of importance resampling: the accepted sample is
    ENRICHED in the target domain (lang='en') relative to the raw
    corpus, scores/probabilities stay in their integer ranges, and the
    acceptance rule is exactly draw < p (spot-checked via the md5
    draw)."""
    from pyspark.sql import functions as F

    from codegraphcontext_spark.queries.driver_queries import (
        _t,
        sample_dsir,
    )

    docs = _t(spark, SF_DIR, "documents").select("doc_id", "lang")
    samp = sample_dsir(spark, SF_DIR)
    rows = samp.collect()
    assert 0 < len(rows) < 500
    for r in rows:
        assert -1_000_000 <= r.dsir_score_x1e6 <= 1_000_000
        assert 0 <= r.accept_p_x1e6 <= 1_000_000
    raw_en = docs.where("lang = 'en'").count() / docs.count()
    j = samp.join(docs, "doc_id")
    samp_en = j.where("lang = 'en'").count() / j.count()
    assert samp_en > raw_en


def test_hll_matches_pure_python_registers(spark):
    """The distributed HLL must agree exactly with a pure-Python register
    simulation over the same md5-prefix hashes — pinning the bucket split,
    the bin()-based rho, and the scaled-integer estimate — and the estimate
    must be a real estimate (within 40% of exact at m=64)."""
    import hashlib

    from codegraphcontext_spark.queries.driver_queries import (
        _HLL_ALPHA_DEN,
        _HLL_ALPHA_NUM,
        _HLL_M,
        _HLL_RMAX,
        _HLL_W,
        events_distinct_hll,
    )

    rows = {r.event_type: r for r in events_distinct_hll(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    pdf = (
        ev.where("user_id IS NOT NULL")
        .select("event_type", "user_id")
        .toPandas()
    )
    for et, grp in pdf.groupby("event_type"):
        regs: dict[int, int] = {}
        seen = set()
        for uid in grp["user_id"]:
            seen.add(int(uid))
            h = int(hashlib.md5(str(int(uid)).encode()).hexdigest()[:12], 16)
            bucket, w = h % _HLL_M, (h // _HLL_M) % _HLL_W
            rho = _HLL_RMAX if w == 0 else _HLL_RMAX - len(bin(w)[2:])
            regs[bucket] = max(regs.get(bucket, 0), rho)
        s_hit = sum(1 << (_HLL_RMAX - r) for r in regs.values())
        s_all = s_hit + (_HLL_M - len(regs)) * (1 << _HLL_RMAX)
        est = _HLL_ALPHA_NUM * (1 << _HLL_RMAX) // (_HLL_ALPHA_DEN * s_all)
        r = rows[et]
        assert r.n_buckets == len(regs), et
        assert r.est_distinct == est, et
        assert r.n_distinct_exact == len(seen), et
        # accuracy: HLL std error ~ 1.04/sqrt(64) = 13%; allow 40%
        assert abs(r.est_distinct - r.n_distinct_exact) <= 0.4 * r.n_distinct_exact
